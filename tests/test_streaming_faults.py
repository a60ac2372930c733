"""At-least-once safety of the continuous dedup sinks under injected
crashes (SURVEY.md §2 ops 48j/48k; VERDICT r4 'next round' item 7).

The clean-replay tests in test_streaming.py prove idempotence when every
batch ran to completion before being re-delivered. These tests prove the
harder cases foreachBatch actually exposes:

- **torn store**: the query dies AFTER the accepted write but BEFORE the
  index write of batch b (``pre_index`` hook). Spark never committed b,
  so a restart from the same checkpoint re-delivers b against a store
  holding b's partial output. Batch-scoped overwrite + the
  ``batch_id < b`` read filter must make the re-run reproduce the
  original verdicts exactly.
- **duplicate delivery**: the query dies AFTER both writes but BEFORE
  the checkpoint commit (``post_index`` hook) — b is re-delivered
  although its stores are complete. The re-run must be a no-op in
  content terms.

Each scenario's final stores are compared value-for-value against an
uninterrupted reference run of the same source stream.
"""

from __future__ import annotations

import glob

import pytest

from hbase_bulkload_spark.streaming import stream_ops


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _write_source(docs, path: str, n_files: int = 6) -> None:
    docs.repartition(n_files).write.mode("overwrite").parquet(path)


def _stream(spark, schema, src):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _accepted_rows(spark, accepted_dir):
    return sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(accepted_dir)
        .select("doc_id", "text")
        .collect()
    )


def _run_clean(spark, docs, src, tmp_path, start_sink, tag):
    accepted = str(tmp_path / f"{tag}_ref_accepted")
    index = str(tmp_path / f"{tag}_ref_index")
    q = start_sink(
        _stream(spark, docs.schema, src), accepted, index,
        str(tmp_path / f"{tag}_ref_ck"),
    )
    q.awaitTermination(180)
    return _accepted_rows(spark, accepted)


def _crash_then_restart(
    spark, docs, src, tmp_path, start_sink, tag, point, crash_batch=3
):
    """Run the sink with a one-shot fault at (point, crash_batch); after
    the query dies, clear the hook and restart from the SAME checkpoint.
    Returns (accepted rows, index dir, torn_observed)."""
    accepted = str(tmp_path / f"{tag}_accepted")
    index = str(tmp_path / f"{tag}_index")
    ck = str(tmp_path / f"{tag}_ck")
    fired = []

    def hook(p, b):
        if p == point and b == crash_batch and not fired:
            fired.append((p, b))
            raise RuntimeError(f"injected crash at {p} of batch {b}")

    stream_ops._fault_hook = hook
    try:
        q = start_sink(_stream(spark, docs.schema, src), accepted, index, ck)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(180)
    finally:
        stream_ops._fault_hook = None
    assert fired, "fault hook never fired — crash batch id not reached"

    # characterize the torn state the restart must recover from
    acc_batches = {
        p.rsplit("=", 1)[1] for p in glob.glob(f"{accepted}/batch_id=*")
    }
    idx_batches = {
        p.rsplit("=", 1)[1] for p in glob.glob(f"{index}/batch_id=*")
    }
    torn = str(crash_batch) in acc_batches and str(crash_batch) not in idx_batches

    q2 = start_sink(_stream(spark, docs.schema, src), accepted, index, ck)
    q2.awaitTermination(180)
    return _accepted_rows(spark, accepted), index, torn


@pytest.mark.parametrize("point", ["pre_index", "post_index"])
def test_exact_dedup_sink_survives_crash(spark, sf_dir, tmp_path, point):
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    _write_source(docs, src)
    ref = _run_clean(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_dedup_sink, f"exact_{point}",
    )
    got, index, torn = _crash_then_restart(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_dedup_sink, f"exact_{point}", point,
    )
    if point == "pre_index":
        assert torn, "pre_index crash should leave accepted without index"
    assert got == ref
    # index consistency: exactly one hash per accepted doc, no dangling
    from pyspark.sql import functions as F

    idx = spark.read.parquet(index).select("text_hash")
    n_hashes = docs.select(F.md5("text")).distinct().count()
    assert idx.count() == idx.distinct().count() == n_hashes


@pytest.mark.parametrize("point", ["pre_index", "post_index"])
def test_near_dedup_sink_survives_crash(spark, sf_dir, tmp_path, point):
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "nsrc")
    _write_source(docs, src)
    ref = _run_clean(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_near_dedup_sink, f"near_{point}",
    )
    got, index, torn = _crash_then_restart(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_near_dedup_sink, f"near_{point}", point,
    )
    if point == "pre_index":
        assert torn, "pre_index crash should leave accepted without index"
    assert got == ref
    # band index covers exactly the accepted docs
    accepted_ids = {d for d, _ in got}
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(index).select("doc_id").distinct().collect()
    }
    assert idx_ids == accepted_ids


@pytest.mark.parametrize("point", ["pre_load", "post_load"])
def test_bulkload_hfile_sink_survives_crash(spark, sf_dir, tmp_path, point):
    """At-least-once safety of the streaming doBulkLoad sink (op 48
    family's storage-tier member): crash BEFORE placement (staging
    written, nothing loaded) or AFTER placement but before the
    checkpoint commit (whole batch re-delivered against a table already
    holding its files). Batch-stamped file names + rename placement must
    make the restarted run converge to exactly the clean-run content —
    no duplicated or lost cells."""
    from hbase_bulkload_spark.operators import hfile_load
    from hbase_bulkload_spark.operators.bulkload import bulkload_kv, bulkload_wide
    from hbase_bulkload_spark.sources import records
    from hbase_bulkload_spark.sources.records import RECORD_COLS

    wide = records.wide9(spark, sf_dir).select(*RECORD_COLS)
    src = str(tmp_path / f"hsrc_{point}")
    wide.repartition(3).write.mode("overwrite").parquet(src)

    def start(table, ck):
        stream = (
            spark.readStream.schema(wide.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        wide_s, quals = bulkload_wide(stream, RECORD_COLS[:4], RECORD_COLS)
        return stream_ops.start_bulkload_hfile_sink(wide_s, quals, table, ck)

    table = str(tmp_path / f"htable_{point}")
    ck = str(tmp_path / f"hck_{point}")
    fired = []

    def hook(p, b):
        if p == point and b == 1 and not fired:
            fired.append((p, b))
            raise RuntimeError(f"injected crash at {p} of batch {b}")

    stream_ops._fault_hook = hook
    try:
        q = start(table, ck)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(180)
    finally:
        stream_ops._fault_hook = None
    assert fired, "fault hook never fired"

    q2 = start(table, ck)
    q2.awaitTermination(180)

    want = bulkload_kv(wide, RECORD_COLS[:4], RECORD_COLS).select(
        "rowkey", "qualifier", "value"
    )
    got = hfile_load.scan_hfiles(spark, table).select(
        "rowkey", "qualifier", "value"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _one_shot_crash(point: str, crash_batch: int):
    """(hook, fired) — raises exactly once at (point, crash_batch)."""
    fired = []

    def hook(p, b):
        if p == point and b == crash_batch and not fired:
            fired.append((p, b))
            raise RuntimeError(f"injected crash at {p} of batch {b}")

    return hook, fired


def _rollup_rows(spark, rollup_dir):
    return sorted(
        (
            str(r.window_start), str(r.window_end), r.event_type,
            r.n_events, round(r.sum_value, 6),
        )
        for r in stream_ops.read_rollup(spark, rollup_dir).collect()
    )


@pytest.mark.parametrize("point", ["pre_write", "post_write"])
def test_rollup_sink_survives_crash(spark, sf_dir, tmp_path, point):
    """At-least-once safety of the continuous-aggregate sink (op 48g;
    VERDICT r6 item 5): crash BEFORE the partials write (batch re-runs
    from nothing) or AFTER it but before the checkpoint commit (batch
    re-fires against a store already holding its own partials — the
    batch-scoped overwrite must replace, not re-append, or read_rollup
    double-counts those windows). Final merged aggregate must equal an
    uninterrupted run's value-for-value."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / f"rsrc_{point}")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    ref_dir = str(tmp_path / f"rref_{point}")
    q = stream_ops.start_rollup_sink(
        stream(), ref_dir, str(tmp_path / f"rrefck_{point}")
    )
    q.awaitTermination(180)
    want = _rollup_rows(spark, ref_dir)

    roll = str(tmp_path / f"roll_{point}")
    ck = str(tmp_path / f"rck_{point}")
    hook, fired = _one_shot_crash(point, crash_batch=2)
    stream_ops._fault_hook = hook
    try:
        q = stream_ops.start_rollup_sink(stream(), roll, ck)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(180)
    finally:
        stream_ops._fault_hook = None
    assert fired, "fault hook never fired — crash batch id not reached"
    if point == "post_write":
        # the dangerous state actually materialized: uncommitted partials
        assert glob.glob(f"{roll}/batch_id=2"), "crash batch partials absent"

    q2 = stream_ops.start_rollup_sink(stream(), roll, ck)
    q2.awaitTermination(180)
    assert _rollup_rows(spark, roll) == want and len(want) > 0


@pytest.mark.parametrize("point", ["pre_merge", "post_merge"])
def test_upsert_sink_survives_crash(spark, tmp_path, point):
    """At-least-once safety of the streaming CDC upsert sink (op 48h;
    VERDICT r6 item 5): crash BEFORE the bucket rewrite (batch re-runs
    against the pre-merge table) or AFTER it but before the checkpoint
    commit (batch re-delivered against a table that already contains its
    own merged rows — the anti-join on the batch's keys must make the
    re-merge reproduce, not duplicate or resurrect). Final table must be
    last-writer-wins per key, equal to an uninterrupted run."""
    import os

    rows = [
        (1, "a0", 0), (2, "b0", 1), (3, "c0", 2), (3, "c1", 3), (4, "d0", 4),
        (1, "a1", 5), (5, "e0", 6), (6, "f0", 7),
        (2, "b1", 8), (7, "g0", 9), (4, "d1", 10),
    ]
    schema = "c_custkey long, val string, _change_seq long"

    def write_src(tag):
        src = str(tmp_path / f"uchanges_{tag}")
        os.makedirs(src)
        for i, sl in enumerate((rows[:5], rows[5:8], rows[8:])):
            spark.createDataFrame(sl, schema).coalesce(1).write.parquet(
                f"{src}/f{i}"
            )
        return src + "/f*"

    def start(src_glob, table, ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_glob)
        )
        return stream_ops.start_upsert_sink(
            stream, table, ck, key="c_custkey", n_buckets=4
        )

    want = {1: "a1", 2: "b1", 3: "c1", 4: "d1", 5: "e0", 6: "f0", 7: "g0"}
    ref_table = str(tmp_path / f"uref_{point}")
    q = start(write_src(f"ref_{point}"), ref_table, str(tmp_path / f"urefck_{point}"))
    q.awaitTermination(180)
    assert {
        r.c_custkey: r.val for r in spark.read.parquet(ref_table).collect()
    } == want

    table = str(tmp_path / f"utable_{point}")
    ck = str(tmp_path / f"uck_{point}")
    src_glob = write_src(point)
    hook, fired = _one_shot_crash(point, crash_batch=1)
    stream_ops._fault_hook = hook
    try:
        q = start(src_glob, table, ck)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(180)
    finally:
        stream_ops._fault_hook = None
    assert fired, "fault hook never fired — crash batch id not reached"
    if point == "post_merge":
        # the dangerous state materialized: batch 1's merge is on disk
        merged = {
            r.c_custkey: r.val for r in spark.read.parquet(table).collect()
        }
        assert merged.get(5) == "e0", "crash-batch rows absent from table"

    q2 = start(src_glob, table, ck)
    q2.awaitTermination(180)
    got = {r.c_custkey: r.val for r in spark.read.parquet(table).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Randomized multi-batch fault schedules (VERDICT r7 item 6)
# ---------------------------------------------------------------------------
# The one-shot tests above cover a single crash per run. Real streams
# crash repeatedly: a batch can be re-delivered because a LATER fault
# killed the query after its commit, then crash again itself — states a
# single injection never reaches. Each test below derives a seeded,
# deterministic schedule of several (point, batch) faults, runs the sink
# through crash->restart until the schedule is exhausted AND the stream
# completes clean, and requires the final stores to equal the clean
# run's value-for-value. Seeds are fixed (deterministic gate, no flaky
# randomness); regenerating with new seeds is one-line local fuzzing.


def _fault_schedule(seed: int, points, n_batches: int, n_events: int = 3):
    """Deterministic schedule: n_events distinct (point, batch) pairs
    drawn from points x batches 1..n_batches-1 (batch 0 excluded so at
    least one batch commits before the first possible crash — the
    restart then always overlaps a non-empty store)."""
    import random

    rnd = random.Random(seed)
    events: set = set()
    pool = [(p, b) for p in points for b in range(1, n_batches)]
    n_events = min(n_events, len(pool))
    while len(events) < n_events:
        events.add(pool[rnd.randrange(len(pool))])
    return events


def _run_with_fault_schedule(start, events):
    """Drive start() through the schedule: every scheduled event fires
    exactly once (whenever its (point, batch) is next encountered —
    including on re-delivered batches), each crash is followed by a
    restart from the same checkpoint, and the final run must terminate
    clean. Returns the fired order for the determinism assertion."""
    remaining = set(events)
    fired: list = []

    def hook(p, b):
        if (p, b) in remaining:
            remaining.discard((p, b))
            fired.append((p, b))
            raise RuntimeError(f"injected crash at {p} of batch {b}")

    stream_ops._fault_hook = hook
    try:
        for _ in range(len(events) + 1):
            q = start()
            try:
                q.awaitTermination(240)
                break  # clean termination — schedule must be exhausted
            except Exception as e:  # noqa: BLE001
                assert "injected crash" in str(e), f"unexpected failure: {e}"
    finally:
        stream_ops._fault_hook = None
    assert not remaining, f"schedule events never reached: {remaining}"
    return fired


@pytest.mark.parametrize("seed", [0xA11CE])
def test_exact_dedup_sink_survives_fault_schedule(spark, sf_dir, tmp_path, seed):
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "msrc")
    _write_source(docs, src)
    ref = _run_clean(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_dedup_sink, f"mexact_{seed}",
    )
    accepted = str(tmp_path / f"mexact_{seed}_accepted")
    index = str(tmp_path / f"mexact_{seed}_index")
    ck = str(tmp_path / f"mexact_{seed}_ck")
    events = _fault_schedule(seed, ("pre_index", "post_index"), n_batches=6)
    _run_with_fault_schedule(
        lambda: stream_ops.start_incremental_dedup_sink(
            _stream(spark, docs.schema, src), accepted, index, ck
        ),
        events,
    )
    assert _accepted_rows(spark, accepted) == ref
    from pyspark.sql import functions as F

    idx = spark.read.parquet(index).select("text_hash")
    n_hashes = docs.select(F.md5("text")).distinct().count()
    assert idx.count() == idx.distinct().count() == n_hashes


@pytest.mark.parametrize("seed", [0xBEE])
def test_near_dedup_sink_survives_fault_schedule(spark, sf_dir, tmp_path, seed):
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "mnsrc")
    _write_source(docs, src)
    ref = _run_clean(
        spark, docs, src, tmp_path,
        stream_ops.start_incremental_near_dedup_sink, f"mnear_{seed}",
    )
    accepted = str(tmp_path / f"mnear_{seed}_accepted")
    index = str(tmp_path / f"mnear_{seed}_index")
    ck = str(tmp_path / f"mnear_{seed}_ck")
    events = _fault_schedule(seed, ("pre_index", "post_index"), n_batches=6)
    _run_with_fault_schedule(
        lambda: stream_ops.start_incremental_near_dedup_sink(
            _stream(spark, docs.schema, src), accepted, index, ck
        ),
        events,
    )
    assert _accepted_rows(spark, accepted) == ref
    accepted_ids = {d for d, _ in ref}
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(index).select("doc_id").distinct().collect()
    }
    assert idx_ids == accepted_ids


@pytest.mark.parametrize("seed", [0xCAFE])
def test_rollup_sink_survives_fault_schedule(spark, sf_dir, tmp_path, seed):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "mrsrc")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    ref_dir = str(tmp_path / "mrref")
    q = stream_ops.start_rollup_sink(stream(), ref_dir, str(tmp_path / "mrrefck"))
    q.awaitTermination(180)
    want = _rollup_rows(spark, ref_dir)

    roll = str(tmp_path / "mroll")
    ck = str(tmp_path / "mrck")
    events = _fault_schedule(seed, ("pre_write", "post_write"), n_batches=4)
    _run_with_fault_schedule(
        lambda: stream_ops.start_rollup_sink(stream(), roll, ck), events
    )
    assert _rollup_rows(spark, roll) == want and len(want) > 0


@pytest.mark.parametrize("seed", [0xD00D])
def test_upsert_sink_survives_fault_schedule(spark, tmp_path, seed):
    import os

    rows = [
        (1, "a0", 0), (2, "b0", 1), (3, "c0", 2), (3, "c1", 3), (4, "d0", 4),
        (1, "a1", 5), (5, "e0", 6), (6, "f0", 7),
        (2, "b1", 8), (7, "g0", 9), (4, "d1", 10),
    ]
    schema = "c_custkey long, val string, _change_seq long"
    src = str(tmp_path / "muchanges")
    os.makedirs(src)
    for i, sl in enumerate((rows[:5], rows[5:8], rows[8:])):
        spark.createDataFrame(sl, schema).coalesce(1).write.parquet(f"{src}/f{i}")
    src_glob = src + "/f*"

    def start(table, ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_glob)
        )
        return stream_ops.start_upsert_sink(
            stream, table, ck, key="c_custkey", n_buckets=4
        )

    want = {1: "a1", 2: "b1", 3: "c1", 4: "d1", 5: "e0", 6: "f0", 7: "g0"}
    table = str(tmp_path / "mutable")
    ck = str(tmp_path / "muck")
    events = _fault_schedule(seed, ("pre_merge", "post_merge"), n_batches=3)
    _run_with_fault_schedule(lambda: start(table, ck), events)
    got = {r.c_custkey: r.val for r in spark.read.parquet(table).collect()}
    assert got == want
