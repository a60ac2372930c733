"""HFile bulk-load orchestration (SURVEY.md §2.1 op 9): executor-written
region HFiles → `doBulkLoad`-style handoff → distributed verification
scan.

Reference dataflow: `HFileOutputFormat2` writes one sorted HFile per
region partition (`BulkImporterFromText.java:104-111`), then the client
calls `LoadIncrementalHFiles.doBulkLoad(tmpPath, table)`
(`BulkImporterFromText.java:129-130`), which for each HFile reads first/
last keys, assigns it to the region containing its first key, SPLITS any
file that straddles a region boundary, and moves the file into the
region's family directory. This module reproduces that contract against
a local filesystem "table" (no HBase cluster exists in-container; the
region-server RPC is the one piece with no runnable analog — the file
placement, splitting, and resulting on-disk layout are the loadable
artifact and are verified by reading the table back).

The write is one call: `bulkload_to_table` (or `write_region_hfiles`
alone) takes the unaligned wide rows of `operators.bulkload.bulkload_wide`,
aligns them itself, and writes every file in the table's one codec,
`sources.hfile.TABLE_CODEC` (the reference's SNAPPY families,
`create_table.rb:1`); callers choose neither.

Scale posture:
- the HFiles are written by the EXECUTORS, one per region bucket, off
  a single exchange of wide rows (one per record), which one writer
  loop per task explodes into cells (`write_wide_batches`); the driver
  only collects a tiny per-file manifest;
- `do_bulk_load` reads ~4 KB of metadata per file (trailer + index) to
  place it; split rounds are dispatched back through Spark so
  rewriting crossing files is cluster-parallel, mirroring
  LoadIncrementalHFiles' bulk-load thread pool;
- the verification scan plans block-range splits from each file's root
  index, so read parallelism tracks bytes, not file count.
"""

from __future__ import annotations

import os
import shutil
from bisect import bisect_left, bisect_right
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from hbase_bulkload_spark.sources import hfile as hf


def task_file_label() -> str:
    """``{partitionId}-{taskAttemptId}`` — file names must be unique
    PER ATTEMPT, not per partition: with speculative execution (or a
    zombie original racing a retry) two live attempts of one partition
    would otherwise open the same path with 'wb' and interleave writes
    into a corrupted HFile. Attempt-unique names make the losing
    attempt's file an unreferenced orphan instead (only the winning
    attempt's manifest rows are collected/committed)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}"


def write_wide_batches(
    batches,
    value_cols: Sequence[str],
    qualifiers: Sequence[bytes],
    family: str,
    out_dir: str,
    task_label: str,
) -> list[dict]:
    """Executor-side body of `write_region_hfiles` (mapInArrow): explode
    Arrow batches of region-aligned wide rows into cells and stream them
    into one open :data:`sources.hfile.TABLE_CODEC` HFileWriter per
    bucket, every cell at timestamp 0; returns one manifest dict per
    file. ``task_label`` should come from :func:`task_file_label`.

    Batch columns are rowkey, bucket and the ``value_cols``, whose
    qualifiers are ``qualifiers`` (in that order) — sorted by (bucket,
    rowkey), `operators.bulkload.region_align_wide`. Rowkeys and values
    are string or binary; the writer takes their bytes (a string
    array's UTF-8 buffer is already binary). Each row becomes one cell per
    non-null value (empty values are kept), all of ``family``,
    qualifiers in byte order (``z10`` < ``z2``). Rows sharing a rowkey
    are exploded together and their cells stable-sorted by (rowkey,
    qualifier), so duplicate rows interleave per qualifier exactly as a
    sort of the exploded cell frame would order them; the trailing
    rowkey run of each batch waits for the next batch, since Spark cuts
    batches at ``maxRecordsPerBatch`` regardless of keys. The cells feed
    ``HFileWriter.add_many_arrow`` as Arrow slices — no per-cell Python
    objects on the write path.

    Buckets are split by a run-length pass over the ROWS, before the
    explode: a bucket run is whole rows, so it cuts the exploded cells
    at the first cell of its first row. Contract: the bucket is
    non-null and equal buckets are contiguous within the partition,
    which the region-aligned sort guarantees for a non-null bucket. A
    null bucket is rejected loudly per batch (it has no region, and the
    run split would merge it into a neighbour's file).

    Attempts stream into a ``.tmp``-suffixed name (outside the
    ``part-*.hfile`` namespace readers look at) and rename to the final
    name only on task completion, so a file is visible under its final
    name either fully written or not at all — a killed/zombie attempt
    leaves at worst a ``.tmp`` straggler, not a half-written ``part-*``
    file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    by_bytes = sorted(range(len(qualifiers)), key=qualifiers.__getitem__)
    quals = pa.array([qualifiers[j] for j in by_bytes], pa.binary())
    fam = pa.array([family.encode()], pa.binary())
    k = len(qualifiers)
    value_cols = [value_cols[j] for j in by_bytes]
    writers: dict[str, hf.HFileWriter] = {}

    def run_starts(col) -> np.ndarray:
        """True where a row starts a run of equal ``col`` values."""
        n = len(col)
        new_run = np.ones(n, bool)
        if n > 1:
            new_run[1:] = pc.fill_null(
                pc.not_equal(col.slice(1), col.slice(0, n - 1)), True
            ).to_numpy(zero_copy_only=False)
        return new_run

    def write(rb, new_key):
        n = rb.num_rows
        rk, bkt = rb.column("rowkey"), rb.column("bucket")
        # column-major: value j of row i sits at j*n + i
        values = pa.concat_arrays(
            [rb.column(c).cast(pa.binary()) for c in value_cols]
        )
        cell = (np.arange(n)[:, None] + n * np.arange(k)[None, :]).ravel()
        valid = values.is_valid().to_numpy(zero_copy_only=False)[cell]
        # first cell of each row (and the end): rows stay contiguous
        first_cell = np.concatenate(([0], np.cumsum(valid.reshape(n, k).sum(1))))
        cell = cell[valid]
        row, q = cell % n, cell // n
        if not new_key.all():  # duplicate rowkeys: interleave their cells
            order = np.lexsort((q, np.cumsum(new_key)[row]))
            cell, row, q = cell[order], row[order], q[order]
        rowkey, qualifier, value = rk.take(row), quals.take(q), values.take(cell)
        family_col = fam.take(np.zeros(len(cell), np.int64))
        starts = np.flatnonzero(run_starts(bkt))
        for s, e in zip(starts, [*starts[1:], n]):
            lo, hi = int(first_cell[s]), int(first_cell[e])
            if lo == hi:  # every value of the run is null: no cell
                continue
            bucket = bkt[int(s)].as_py()
            w = writers.get(bucket)
            if w is None:
                path = os.path.join(out_dir, f"part-{task_label}-{bucket}.hfile")
                w = writers[bucket] = hf.HFileWriter(path + ".tmp", hf.TABLE_CODEC)
            w.add_many_arrow(
                rowkey.slice(lo, hi - lo), family_col.slice(lo, hi - lo),
                qualifier.slice(lo, hi - lo), 0, value.slice(lo, hi - lo),
            )

    carry = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        nulls = rb.column("bucket").null_count
        if nulls:
            raise ValueError(
                f"bucket column has {nulls} null(s): a row without a "
                "bucket has no region, and the run split would write it "
                "into a neighbouring bucket's file"
            )
        if carry is not None:
            rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
        new_key = run_starts(rb.column("rowkey"))
        last = int(np.flatnonzero(new_key)[-1])
        if last:
            write(rb.slice(0, last), new_key[:last])
        carry = rb.slice(last)
    if carry is not None:
        write(carry, run_starts(carry.column("rowkey")))

    out = []
    for bucket, w in writers.items():
        m = w.close()
        final = m["path"][: -len(".tmp")]
        os.replace(m["path"], final)  # task-commit rename
        out.append(
            {
                "path": final,
                "bucket": bucket,
                "entry_count": m["entry_count"],
                "n_blocks": m["n_blocks"],
            }
        )
    return out


def write_region_hfiles(
    wide: DataFrame,
    out_dir: str,
    qualifiers: Sequence[bytes],
    family: str = "c",
) -> list[dict]:
    """Write one HFile per region bucket from the wide rows of
    `operators.bulkload.bulkload_wide`. The sink aligns them itself
    (`operators.bulkload.region_align_wide`: one exchange, sorted by
    (bucket, rowkey)); executors then stream Arrow batches into at most
    a handful of open writers (buckets are contiguous in the sort); the
    returned manifest is one row per file.

    ``wide`` has columns rowkey, bucket and one value column per entry
    of ``qualifiers``, in ``qualifiers`` order; rowkey and values are
    string or binary. The writer task explodes
    each row into cells of ``family`` (:func:`write_wide_batches`), so
    the exchange and the Arrow hop move one row per record instead of
    one cell per value, each repeating the rowkey. A frame missing
    rowkey or bucket, whose value columns do not match ``qualifiers``,
    or with a column that is neither string nor binary, is rejected
    here, before any job starts; a null bucket fails the write task.

    The hop is ``mapInArrow``, which hands the task Arrow utf8 arrays:
    their buffers are already the UTF-8 bytes, so the writer
    reinterprets them as binary without a JVM-side cast or any
    per-cell Python object (``HFileWriter.add_many_arrow`` takes string
    or binary arrays)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import BinaryType, StringType

    from hbase_bulkload_spark.operators.bulkload import region_align_wide

    types = {f.name: f.dataType for f in wide.schema.fields}
    missing = [c for c in ("rowkey", "bucket") if c not in types]
    if missing:
        raise ValueError(
            f"the wide frame {list(types)} needs rowkey and bucket columns; "
            f"missing {missing}"
        )
    value_cols = [c for c in types if c not in ("rowkey", "bucket")]
    if len(value_cols) != len(qualifiers):
        raise ValueError(
            f"{len(qualifiers)} qualifiers for the value columns {value_cols}"
        )
    not_bytes = [
        c for c in ("rowkey", *value_cols)
        if not isinstance(types[c], (StringType, BinaryType))
    ]
    if not_bytes:
        raise ValueError(f"columns {not_bytes} are neither string nor binary")
    qualifiers = list(qualifiers)
    wide = region_align_wide(wide)

    os.makedirs(out_dir, exist_ok=True)
    manifest_schema = pa.schema([
        ("path", pa.string()), ("bucket", pa.string()),
        ("entry_count", pa.int64()), ("n_blocks", pa.int64()),
    ])

    def write_parts(batches):
        out = write_wide_batches(
            batches, value_cols, qualifiers, family, out_dir, task_file_label()
        )
        yield pa.RecordBatch.from_pylist(out, schema=manifest_schema)

    manifest = wide.mapInArrow(write_parts, from_arrow_schema(manifest_schema))
    return [r.asDict() for r in manifest.collect()]


def _region_dirs(table_dir: str, boundaries: list[bytes], family: str) -> list[str]:
    dirs = []
    for i, start in enumerate(boundaries):
        # directory label: the start key if it is printable ASCII (the
        # canonical hex-nibble boundaries), else its hex — raw-binary
        # boundaries (e.g. b"\x80") are not valid path text
        printable = all(0x20 <= b < 0x7F for b in start)
        label = start.decode("ascii") if (start and printable) else start.hex()
        d = os.path.join(
            table_dir, f"region-{i:04d}-{label or 'START'}", family
        )
        os.makedirs(d, exist_ok=True)
        dirs.append(d)
    return dirs


def do_bulk_load(
    src_paths: list[str],
    table_dir: str,
    boundaries: list[bytes],
    family: str = "c",
    spark: SparkSession | None = None,
) -> list[dict]:
    """`LoadIncrementalHFiles.doBulkLoad` against a local-FS table layout.

    ``boundaries`` are the region start keys, sorted; region i covers
    [boundaries[i], boundaries[i+1]). Each file is placed by its first
    row; files whose last row crosses the owning region's end are split
    at the boundary (`groupOrSplit` → `splitStoreFile`) and both halves
    re-queued — split rounds run as Spark tasks when a session is given,
    serially otherwise. Placement is an atomic rename, matching the
    region server's commitStoreFile move. Returns one manifest row per
    loaded file: {region, path, entry_count}."""
    if boundaries != sorted(boundaries):
        raise ValueError("region boundaries must be sorted")
    region_dirs = _region_dirs(table_dir, boundaries, family)
    loaded: list[dict] = []
    queue = list(src_paths)
    round_no = 0
    while queue:
        placements: list[tuple[str, int]] = []
        splits: list[tuple[str, bytes]] = []
        for path in queue:
            first_row, last_row = hf.file_key_range(path)
            idx = bisect_right(boundaries, first_row) - 1
            if idx < 0:
                raise ValueError(
                    f"{path}: first row {first_row!r} precedes the first "
                    f"region start {boundaries[0]!r}"
                )
            if idx + 1 < len(boundaries) and last_row >= boundaries[idx + 1]:
                splits.append((path, boundaries[idx + 1]))
            else:
                placements.append((path, idx))

        for path, idx in placements:
            dest = os.path.join(region_dirs[idx], os.path.basename(path))
            os.rename(path, dest)
            with open(dest, "rb") as f:
                entry_count = hf.read_trailer(f).entry_count
            loaded.append({"region": idx, "path": dest, "entry_count": entry_count})

        def run_split(task: tuple[str, bytes]) -> list[str]:
            path, split_row = task
            stem = path[: -len(".hfile")] if path.endswith(".hfile") else path
            bottom, top = hf.split_hfile(
                path, split_row, stem + ".bottom.hfile", stem + ".top.hfile"
            )
            os.unlink(path)
            return [m["path"] for m in (bottom, top) if m]

        if splits and spark is not None:
            halves = (
                spark.sparkContext.parallelize(splits, len(splits))
                .map(run_split)
                .collect()
            )
        else:
            halves = [run_split(t) for t in splits]
        queue = [p for pair in halves for p in pair]
        round_no += 1
        if round_no > 64:  # a file can only split log(regions) times
            raise RuntimeError("bulk load did not converge")
    return loaded


def bulkload_to_table(
    wide: DataFrame,
    out_dir: str,
    boundaries: list[bytes],
    qualifiers: Sequence[bytes],
    family: str = "c",
) -> list[dict]:
    """Ops 7+9 as a sink — the one batch write-and-load entry point:
    executor-written region HFiles staged under ``out_dir/_staging``,
    then doBulkLoad placement into ``out_dir`` — the loaded-table
    layout the reference leaves behind. ``wide`` is the unaligned frame
    of `operators.bulkload.bulkload_wide`, whose value columns map onto
    ``qualifiers`` (see :func:`write_region_hfiles`, which aligns it);
    every cell is written with ``family`` and placed under a store
    directory of that name. Returns the per-file load manifest. A failed
    write leaves no staging directory behind."""
    spark = wide.sparkSession
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    staging = os.path.join(out_dir, "_staging")
    try:
        manifest = write_region_hfiles(wide, staging, qualifiers, family=family)
    except BaseException:
        # the files the write tasks that did finish committed
        shutil.rmtree(staging, ignore_errors=True)
        raise
    loaded = do_bulk_load(
        [m["path"] for m in manifest], out_dir, boundaries, family=family, spark=spark
    )
    # rmtree, not rmdir: attempt-unique file names mean a failed or
    # losing speculative attempt can leave an orphan HFile in staging
    # (only manifest-listed files were moved) — exactly the retry case
    # the naming scheme exists for; an orphan must not fail the load
    shutil.rmtree(staging)
    return loaded


# scan split granularity FLOOR: small enough that a 16-file local
# verification table (~60-200 MB) still fans out past the core count.
# Since r11 the effective split size is SCALE-ADAPTIVE (split_bytes=None
# → _adaptive_split_bytes): a fixed 2 MiB split would mint ~50M scan
# tasks over a 100 TB table (guide §2.2 — quadratic shuffle-block /
# task-overhead growth), while a fixed large split would starve a
# local[32] read of a 60 MB table. The derived size targets
# OVERSUB_TASKS_PER_CORE tasks per core and clamps to
# [DEFAULT_SPLIT_BYTES, MAX_SPLIT_BYTES]; at the driver's gate scales
# the clamp floor makes the plan byte-identical to the fixed-2 MiB
# rounds (verified: same split count at sf0.1).
DEFAULT_SPLIT_BYTES = 2 << 20
#: Per-task on-disk-byte ceiling for the adaptive solve — at cluster
#: scale task overhead amortizes over ≥64 MiB sequential reads (the
#: same band HBase scan chunking and parquet maxPartitionBytes target).
MAX_SPLIT_BYTES = 64 << 20
#: Adaptive target: ~4 scan tasks per core — enough slack that one slow
#: split doesn't tail the stage, few enough that per-task overhead
#: stays negligible.
OVERSUB_TASKS_PER_CORE = 4


#: Per-DECODE-CALL on-disk-byte bound inside a scan task. Separate knob
#: from the split (task) size on purpose: the r11 sf3-density A/B
#: measured 24 MiB whole-split decodes 2.6× SLOWER than 2 MiB ones —
#: decode_cells_arrow's gathers allocate index/scratch arrays several
#: times the payload (the fixed-width rowkey gather builds an
#: (n_cells × key_len) int64 index ≈ 8× the column), so 32 concurrent
#: workers at tens of MB each thrash. Chunking the decode keeps task
#: scratch flat at the measured-good 2 MiB granularity while the
#: adaptive SPLIT size keeps the task count scale-bounded.
DECODE_CHUNK_BYTES = 2 << 20


def _iter_block_chunks(blocks, chunk_bytes: int = DECODE_CHUNK_BYTES):
    """Group a split's (off, size) block list into ≤ ~chunk_bytes runs
    (always at least one block per run) — the decode-call granularity."""
    chunk, acc = [], 0
    for b in blocks:
        chunk.append(b)
        acc += b[1] if isinstance(b, (tuple, list)) else b["size"]
        if acc >= chunk_bytes:
            yield chunk
            chunk, acc = [], 0
    if chunk:
        yield chunk


def _adaptive_split_bytes(total_bytes: int, cores: int | None) -> int:
    """split_bytes for ``total_bytes`` of on-disk data blocks: target
    OVERSUB_TASKS_PER_CORE tasks per core, clamped to
    [DEFAULT_SPLIT_BYTES, MAX_SPLIT_BYTES]. ``cores=None`` falls back
    to this machine's CPU count."""
    if cores is None or cores <= 0:
        cores = os.cpu_count() or 32
    want = total_bytes // max(OVERSUB_TASKS_PER_CORE * cores, 1)
    return max(DEFAULT_SPLIT_BYTES, min(MAX_SPLIT_BYTES, want))


def plan_block_splits(
    table_dir: str,
    split_bytes: int | None = None,
    start_row: bytes | None = None,
    stop_row: bytes | None = None,
    cores: int | None = None,
) -> list[tuple[str, str, str, list[tuple[int, int]]]]:
    """Driver-side scan planning of `scan_hfiles`: read each file's
    trailer + root index (a few KB), prune whole files by key range
    from metadata alone, prune blocks against the index's first-key
    fences, and pack surviving blocks into ~``split_bytes`` chunks —
    one task each.
    ``split_bytes=None`` (the default) derives the chunk size from the
    surviving files' total data-block bytes via
    :func:`_adaptive_split_bytes` (``cores`` = the scan's available
    parallelism; falls back to os.cpu_count()).
    Returns (path, region, codec, [(off, size), ...]) per split."""
    import glob as _glob

    files = sorted(
        _glob.glob(os.path.join(table_dir, "region-*", "*", "*.hfile"))
    )
    if not files:
        raise FileNotFoundError(f"no hfiles under {table_dir}")

    # metadata pass: trailer + root index per surviving file (a few KB
    # each); collected first so the adaptive solve sees total bytes
    metas: list[tuple[str, str, object, list]] = []
    for path in files:
        region = os.path.basename(os.path.dirname(os.path.dirname(path)))
        if start_row is not None or stop_row is not None:
            first_row, last_row = hf.file_key_range(path)
            if start_row is not None and last_row < start_row:
                continue
            if stop_row is not None and first_row >= stop_row:
                continue
        with open(path, "rb") as f:
            t = hf.read_trailer(f)
            entries = hf.read_data_index(f, t)
        metas.append((path, region, t, entries))

    if split_bytes is None:
        split_bytes = _adaptive_split_bytes(
            sum(size for _, _, _, entries in metas for _, size, _ in entries),
            cores,
        )

    plan: list[tuple[str, str, str, list[tuple[int, int]]]] = []
    for path, region, t, entries in metas:
        first_rows = [hf.decode_key(k)[0] for _, _, k in entries]
        chunk: list[tuple[int, int]] = []
        acc = 0
        for i, (off, size, _key) in enumerate(entries):
            # block i holds rows in [first_rows[i], first_rows[i+1]]:
            # a row may straddle into the next block (HBase rolls blocks
            # at cell boundaries)
            if (
                start_row is not None
                and i + 1 < len(first_rows)
                and first_rows[i + 1] < start_row
            ):
                continue
            if stop_row is not None and first_rows[i] >= stop_row:
                break
            chunk.append((off, size))
            acc += size
            if acc >= split_bytes:
                plan.append((path, region, t.compression or "", chunk))
                chunk, acc = [], 0
        if chunk:
            plan.append((path, region, t.compression or "", chunk))
    return plan


#: Separator between the indexed value and the base rowkey in a
#: value-index key. NUL sorts below every printable byte, so index keys
#: for one value are contiguous and [v+NUL, v+0x01) is an exact range
#: scan. Canonical rowkeys are hex and reference values are text, so
#: NUL never appears inside either — documented contract, matching
#: Phoenix's 0-byte column separators.
INDEX_KEY_SEP = "\x00"


def build_value_index(
    wide: DataFrame,
    qualifier: str,
    index_dir: str,
    boundaries: list[bytes] | None = None,
) -> list[dict]:
    """Phoenix-style GLOBAL secondary index, materialized: the
    (value → base rowkey) projection of one value column of a
    :func:`operators.bulkload.bulkload_wide` frame as its own
    bulk-loaded sorted table — the stored artifact the
    q_kv_index_lookup docstring's scale story names. One index row per
    non-null value: rowkey = value ‖ NUL ‖ base_rowkey, one cell of
    family 'i', qualifier 'r', value = base rowkey. The composite key
    makes entries unique and clusters them by indexed value, so a
    lookup is an exact range scan. Written and placed by
    :func:`bulkload_to_table`, like the base table, so the index shares
    the table's operational contract: boundary splits, compaction,
    multi-level block indexes, blooms, block-range scan splits."""
    from pyspark.sql import functions as F

    idx = wide.filter(F.col(qualifier).isNotNull()).select(
        F.concat(
            F.col(qualifier), F.lit(INDEX_KEY_SEP), F.col("rowkey")
        ).alias("rowkey"),
        F.col("rowkey").alias("r"),
        # the value's first character: order-preserving, so the
        # (bucket, rowkey) sort is rowkey order; a hex digit (every
        # digit-string value) is also the index region it falls in
        F.substring(F.col(qualifier), 1, 1).alias("bucket"),
    )
    return bulkload_to_table(
        idx, index_dir, boundaries if boundaries is not None else [b""], [b"r"],
        family="i",
    )


def index_seek(
    spark: SparkSession,
    index_dir: str,
    base_table_dir: str,
    value: str,
) -> DataFrame:
    """Index seek + multi-get — the scale form of the secondary-index
    lookup: an exact range scan of the stored value index (block-pruned
    by the index tree's key fences; [v+NUL, v+0x01) covers exactly the
    entries for ``value``) yields the matched base rowkeys, which fetch
    their rows from the base table via the distributed multi-get
    (bloom + index walk per key). Neither table is ever scanned in
    full, and nothing but file metadata touches the driver."""
    start = (value + INDEX_KEY_SEP).encode()
    stop = (value + "\x01").encode()
    from pyspark.sql import functions as F

    rks = scan_hfiles(
        spark, index_dir, start_row=start, stop_row=stop, columns=("value",)
    ).select(F.col("value").alias("rowkey"))
    return multi_get(spark, base_table_dir, rks)


def multi_get(
    spark: SparkSession,
    table_dir: str,
    rowkeys: Sequence[str] | DataFrame,
    binary: bool = False,
) -> DataFrame:
    """Distributed HBase multi-get (`Table.get(List<Get>)`) against a
    bulk-loaded table directory. The driver reads only metadata — one
    key range per file (trailer + file info, a few KB each, O(files))
    — and closure-broadcasts the (path, region, first, last) routing
    table; executors route their keys to the owning files by range and
    batch-get each file ONCE (`hfile_multi_get`: bloom, index tree and
    touched blocks cached across the batch — the block-cache analog).
    Absent rows cost one bloom check, no index or data IO.

    ``rowkeys`` is a list of canonical (string) keys or a DataFrame
    with a ``rowkey`` column — the DataFrame form makes this a keyed
    lookup JOIN against the HBase artifact: cells come back only for
    requested keys, the table is never scanned. A key list is deduped
    in the driver, so the plan is one narrow stage (`LocalTableScan →
    mapInArrow`, no exchange); a keyset DataFrame keeps its
    ``distinct()`` shuffle, the only way to dedupe keys spread across
    partitions. Output matches scan_hfiles: (region, rowkey, family,
    qualifier, ts, value); string mode rejects non-UTF-8 cells."""
    import glob as _glob

    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(
        _glob.glob(os.path.join(table_dir, "region-*", "*", "*.hfile"))
    )
    if not files:
        raise FileNotFoundError(f"no hfiles under {table_dir}")
    routing = []
    for path in files:
        region = os.path.basename(os.path.dirname(os.path.dirname(path)))
        first_row, last_row = hf.file_key_range(path)
        routing.append((path, region, first_row, last_row))

    if isinstance(rowkeys, DataFrame):
        keys_df = rowkeys.select("rowkey").distinct()
    else:
        keys_df = spark.createDataFrame(
            pa.table({"rowkey": pa.array(sorted(set(rowkeys)), pa.string())})
        )

    cell_t = pa.binary() if binary else pa.string()
    out_schema = pa.schema([
        ("region", pa.string()), ("rowkey", cell_t), ("family", cell_t),
        ("qualifier", cell_t), ("ts", pa.int64()), ("value", cell_t),
    ])

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # route by bisecting the sorted keyset against each file's
            # range: O(files · log keys + hits), never O(keys · files) —
            # file ranges may overlap (multiple HFiles per region), so
            # the per-file range probe, not a per-key bisect, is the
            # correct inversion
            ks = sorted(
                {
                    k if isinstance(k, bytes) else k.encode()
                    for k in rb.column(0).to_pylist()
                }
            )
            regions: list[str] = []
            cells: list[tuple[bytes, bytes, bytes, int, bytes]] = []
            for path, region, fr, lr in routing:
                lo = bisect_left(ks, fr)
                hi = bisect_right(ks, lr)
                if lo < hi:
                    got = hf.hfile_multi_get(path, ks[lo:hi])
                    regions += [region] * len(got)
                    cells += got
            cols = [regions, *zip(*cells)] if cells else [[]] * 6
            # a string field rejects non-UTF-8 bytes here
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, out_schema)],
                schema=out_schema,
            )

    return keys_df.mapInArrow(fetch, from_arrow_schema(out_schema))


def scan_hfiles(
    spark: SparkSession,
    table_dir: str,
    split_bytes: int | None = None,
    start_row: bytes | None = None,
    stop_row: bytes | None = None,
    binary: bool = False,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Distributed scan of a bulk-loaded table directory: the driver
    reads each file's trailer + root index (a few KB) and plans
    block-range splits of ~``split_bytes``; tasks decode their block
    subset and emit cells. Output: region, rowkey, family, qualifier,
    ts, value — or the subset named by ``columns`` (region/rowkey always
    kept): decode-side column pruning, the HFile analog of a parquet
    ReadSchema — a pruned column's slice+str cost is never paid.

    ``start_row``/``stop_row`` give HBase `Scan(startRow, stopRow)`
    semantics ([start, stop), row granularity): whole files outside the
    range are skipped from their metadata alone, blocks are pruned
    against the index's first-key fences before any data byte is read,
    and the residual cell filter runs in the decode task — the same
    prune-then-filter discipline as a parquet min/max scan. A name in
    ``columns`` that is not an output column raises ``ValueError``."""
    prunable = ("family", "qualifier", "ts", "value")
    keep = prunable
    if columns is not None:
        unknown = set(columns) - set(prunable) - {"region", "rowkey"}
        if unknown:
            raise ValueError(
                f"unknown columns {sorted(unknown)}; prunable: {prunable}"
            )
        keep = tuple(c for c in prunable if c in columns)
    plan = plan_block_splits(
        table_dir,
        split_bytes,
        start_row,
        stop_row,
        cores=spark.sparkContext.defaultParallelism,
    )

    # binary mode keeps raw cell bytes — required for tables written in
    # the reference-fidelity raw-key/positional modes, whose keys and
    # qualifiers are not UTF-8
    cell_t = "binary" if binary else "string"
    _types = {"family": cell_t, "qualifier": cell_t, "ts": "long", "value": cell_t}
    out_schema = ", ".join(
        [f"region string, rowkey {cell_t}"] + [f"{c} {_types[c]}" for c in keep]
    )
    if not plan:  # fully pruned range
        return spark.createDataFrame([], out_schema)

    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(plan, len(plan)),
        "path string, region string, codec string, "
        "blocks array<struct<off: long, size: long>>",
    )

    def decode(batches):
        # mapInArrow: decode_cells_arrow already yields pa.Arrays, so
        # the batch goes back to the JVM as-is — the old mapInPandas
        # body round-tripped every cell through a pandas object array
        # (to_pandas here, re-Arrow in the serializer) for nothing
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        wants = {f"want_{c}": (c in keep) for c in prunable}
        for rb in batches:

            for task in rb.to_pylist():
                # cells never straddle blocks: concatenate a CHUNK's
                # payloads and decode once, vectorized — chunked at
                # DECODE_CHUNK_BYTES so decode scratch stays flat no
                # matter how large the (scale-adaptive) split is (see
                # _iter_block_chunks)
                with open(task["path"], "rb") as f:
                    for chunk in _iter_block_chunks(task["blocks"]):
                        plain = b"".join(
                            hf._read_block(
                                f, b["off"], task["codec"] or None, hf.DATA_MAGIC
                            )
                            for b in chunk
                        )
                        cols = hf.decode_cells_arrow(
                            plain, binary=binary, **wants
                        )
                        rowkey = cols["rowkey"]
                        mask = None
                        if start_row is not None:
                            lo = start_row if binary else start_row.decode()
                            mask = pc.greater_equal(rowkey, lo)
                        if stop_row is not None:
                            hi = stop_row if binary else stop_row.decode()
                            m2 = pc.less(rowkey, hi)
                            mask = m2 if mask is None else pc.and_(mask, m2)
                        n = len(rowkey)
                        # constant column via a C-level take, not a
                        # Python list multiply (chunks run to ~50k cells)
                        region_arr = pc.take(
                            pa.array([task["region"]], pa.string()),
                            pa.array(np.zeros(n, np.int32)),
                        )
                        arrays = [region_arr, rowkey] + [cols[c] for c in keep]
                        out = pa.RecordBatch.from_arrays(
                            arrays, ["region", "rowkey", *keep]
                        )
                        if mask is not None:
                            out = out.filter(mask)
                        yield out

    return sdf.mapInArrow(decode, out_schema)


def compact_region(
    family_dir: str,
    max_versions: int | None = None,
    ttl_min_ts: int | None = None,
) -> dict:
    """Region (major) compaction: k-way-merge every HFile in a region's
    family directory into one, applying the table semantics the
    reference's DDL encodes (`create_table.rb:1`): keep at most
    ``max_versions`` newest cells per (row, qualifier) and drop cells
    with ts < ``ttl_min_ts`` — the file-level face of the logical
    `q_versions_top3` / `q_ttl_filter` / `q_compaction` operators
    (`operators/semantics.py`). Successive bulk loads leave a region
    with overlapping files (exactly why region servers compact); the
    merged file restores the one-sorted-file invariant. Inputs must
    hold cells in HBase order — (row, qualifier, ts desc) — which is
    what every writer in this package emits. Replacement is
    write-to-temp + rename, so a crash leaves the originals intact."""
    import glob as _glob
    import heapq

    files = sorted(_glob.glob(os.path.join(family_dir, "*.hfile")))
    if not files:
        raise FileNotFoundError(f"no hfiles under {family_dir}")
    tmp = os.path.join(family_dir, "_compact.tmp")
    w = hf.HFileWriter(tmp)
    dropped_versions = 0
    dropped_expired = 0
    merged = heapq.merge(
        *[hf.iter_hfile(p) for p in files],
        # HBase cell order: row, qualifier, newest ts first
        key=lambda c: (c[0], c[2], -c[3]),
    )
    current: tuple[bytes, bytes] | None = None
    n_versions = 0
    for row, fam, qual, ts, value in merged:
        if ttl_min_ts is not None and ts < ttl_min_ts:
            dropped_expired += 1
            continue
        if (row, qual) != current:
            current = (row, qual)
            n_versions = 0
        n_versions += 1
        if max_versions is not None and n_versions > max_versions:
            dropped_versions += 1
            continue
        w.add(row, fam, qual, ts, value)
    if w.entry_count:
        m = w.close()
    else:  # every cell expired: the compacted region holds no file
        w._f.close()
        os.unlink(tmp)
        m = {"path": None, "entry_count": 0, "n_blocks": 0}
    for p in files:
        os.unlink(p)
    final = None
    if m["path"] is not None:
        final = os.path.join(family_dir, "compacted-00000.hfile")
        os.rename(tmp, final)
    m["path"] = final
    m["n_input_files"] = len(files)
    m["dropped_versions"] = dropped_versions
    m["dropped_expired"] = dropped_expired
    return m


def compact_table(
    table_dir: str,
    max_versions: int | None = None,
    ttl_min_ts: int | None = None,
) -> list[dict]:
    """Major-compact every region family directory under ``table_dir``
    (see compact_region) — the table-wide pass a region server runs
    after repeated incremental bulk loads leave overlapping files."""
    import glob as _glob

    out = []
    for fam_dir in sorted(_glob.glob(os.path.join(table_dir, "region-*", "*"))):
        if os.path.isdir(fam_dir) and _glob.glob(os.path.join(fam_dir, "*.hfile")):
            m = compact_region(fam_dir, max_versions, ttl_min_ts)
            m["family_dir"] = fam_dir
            out.append(m)
    return out
