"""Lift the batch-checked streaming ops onto a real Structured Streaming
pipeline (file source → transform → memory sink, availableNow trigger)
and assert stream results == batch results — proving the §2.12 surface
is genuinely streaming-capable, not batch-only."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_spark.datasets import table
from hbase_bulkload_spark.streaming import stream_ops


def _stream_events(spark, sf_dir, tmp_path):
    batch = table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    assert stream.isStreaming
    return batch, stream


def _run_to_memory(stream_df, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def _canon_ts(df):
    """Cast instant (LTZ) timestamp columns to wall-clock NTZ so stream
    results (watermarking forces LTZ event time) compare against batch
    results (parquet NTZ) value-for-value. Session tz is UTC, so the
    cast is a pure reinterpretation."""
    from pyspark.sql.types import TimestampType

    return df.select(
        *[
            F.col(f.name).cast("timestamp_ntz").alias(f.name)
            if isinstance(f.dataType, TimestampType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _assert_same(spark, batch_df, stream_df, name):
    _run_to_memory(stream_df, name)
    got = _canon_ts(spark.table(name))
    batch_df = _canon_ts(batch_df)
    assert got.exceptAll(batch_df).count() == 0
    assert batch_df.exceptAll(got).count() == 0


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    batch, stream = _stream_events(spark, sf_dir, tmp_path)
    name = f"t_{uuid.uuid4().hex[:8]}"
    _assert_same(
        spark,
        stream_ops.tumbling_agg(batch),
        stream_ops.tumbling_agg(stream_ops.with_watermark(stream, "ts", "1 day")),
        name,
    )


def test_stream_session_matches_batch(spark, sf_dir, tmp_path):
    batch, stream = _stream_events(spark, sf_dir, tmp_path)
    name = f"s_{uuid.uuid4().hex[:8]}"
    _assert_same(
        spark,
        stream_ops.session_agg(batch),
        stream_ops.session_agg(stream_ops.with_watermark(stream, "ts", "1 day")),
        name,
    )


def test_stream_sliding_matches_batch(spark, sf_dir, tmp_path):
    batch, stream = _stream_events(spark, sf_dir, tmp_path)
    name = f"sl_{uuid.uuid4().hex[:8]}"
    _assert_same(
        spark,
        stream_ops.sliding_agg(batch),
        stream_ops.sliding_agg(stream_ops.with_watermark(stream, "ts", "1 day")),
        name,
    )


def test_stream_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dropDuplicates keeps exactly the batch-distinct key set
    (append mode: each key emitted once)."""
    batch, stream = _stream_events(spark, sf_dir, tmp_path)
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        stream_ops.dedup_keys(stream, ["user_id", "event_type"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(name)
    want = stream_ops.dedup_keys(batch, ["user_id", "event_type"])
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (two file-source streams, both
    watermarked) emits exactly the batch join's rows."""
    batch, stream = _stream_events(spark, sf_dir, tmp_path)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    b_clicks, b_views = split(batch)
    s_clicks, s_views = split(stream)
    want = stream_ops.interval_join(b_clicks, b_views, within="1 hour")
    got_stream = stream_ops.interval_join(
        stream_ops.with_watermark(s_clicks, "ts", "1 day"),
        stream_ops.with_watermark(s_views, "ts", "1 day"),
        within="1 hour",
    )
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        got_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _canon_ts(spark.table(name))
    want = _canon_ts(want)
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_watermark_is_noop_on_batch(spark, sf_dir):
    batch = table(spark, sf_dir, "events")
    assert stream_ops.with_watermark(batch) is batch


def test_stateful_operator_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running stats converge to the batch hash
    aggregate. Update-mode emissions are monotone per key (running
    totals), so the final state per user is the per-user max."""
    batch, stream = _stream_events(spark, sf_dir, tmp_path)
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        stream_ops.user_running_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        )
    )
    want = stream_ops.user_running_stats(batch)
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


def test_stream_bulkload_sink(spark, sf_dir, tmp_path):
    """The flagship ingest dataflow as a stream: file source → rowkey/KV/
    bucket (narrow ops) → bucket-partitioned parquet sink; cell count and
    bucket set match the batch pipeline."""
    from hbase_bulkload_spark.operators.bulkload import bulkload_kv
    from hbase_bulkload_spark.sources.records import RECORD_COLS
    from hbase_bulkload_spark.sources import records

    wide = records.wide9(spark, sf_dir).select(*RECORD_COLS)
    src = str(tmp_path / "wide_src")
    wide.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(wide.schema).parquet(src)

    cells = stream_ops.stream_bulkload_cells(stream, RECORD_COLS[:4], RECORD_COLS)
    out = str(tmp_path / "cells_out")
    q = stream_ops.start_bulkload_sink(cells, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = bulkload_kv(wide, RECORD_COLS[:4], RECORD_COLS)
    assert got.count() == want.count()
    assert sorted(r.bucket for r in got.select("bucket").distinct().collect()) == sorted(
        r.bucket for r in want.select("bucket").distinct().collect()
    )


def test_stream_bulkload_hfile_sink(spark, sf_dir, tmp_path):
    """Stream → incremental doBulkLoad → compact: three microbatches
    leave overlapping region files (as successive bulk loads do), the
    scanned table equals the batch pipeline's cells, and table
    compaction restores one file per region without changing content."""
    import glob

    from hbase_bulkload_spark.operators import hfile_load
    from hbase_bulkload_spark.operators.bulkload import bulkload_kv, bulkload_wide
    from hbase_bulkload_spark.sources import records
    from hbase_bulkload_spark.sources.records import RECORD_COLS

    wide = records.wide9(spark, sf_dir).select(*RECORD_COLS)
    src = str(tmp_path / "wide_src")
    wide.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(wide.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple microbatches
        .parquet(src)
    )
    wide_s, quals = bulkload_wide(stream, RECORD_COLS[:4], RECORD_COLS)
    table = str(tmp_path / "table")
    q = stream_ops.start_bulkload_hfile_sink(
        wide_s, quals, table, str(tmp_path / "ckpt_h")
    )
    q.awaitTermination(180)

    want = bulkload_kv(wide, RECORD_COLS[:4], RECORD_COLS).select(
        "rowkey", "qualifier", "value"
    )
    got = hfile_load.scan_hfiles(spark, table).select(
        "rowkey", "qualifier", "value"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # incremental loads left >1 file in at least one region
    per_region = [
        len(glob.glob(os.path.join(d, "*", "*.hfile")))
        for d in glob.glob(os.path.join(table, "region-*"))
    ]
    assert max(per_region) > 1

    manifests = hfile_load.compact_table(table)
    assert manifests  # compacted something
    per_region = [
        len(glob.glob(os.path.join(d, "*", "*.hfile")))
        for d in glob.glob(os.path.join(table, "region-*"))
    ]
    assert max(per_region) == 1
    again = hfile_load.scan_hfiles(spark, table).select(
        "rowkey", "qualifier", "value"
    )
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


@pytest.mark.slow
@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="sf0.1 end-to-end; set SPARK_GRAFT_SLOW=1",
)
def test_stream_bulkload_hfile_sink_sf01(spark, tmp_path):
    """The microbatch doBulkLoad path at sf0.1 (~5.4M cells through the
    HFile codec across several incremental loads): pins the memory
    behavior of the per-batch region-manifest collect — the only
    driver-side collect in the sink, which must stay O(regions), not
    O(cells) — and that compaction at this scale still converges to one
    file per region with the cell count preserved."""
    import glob

    from hbase_bulkload_spark.operators import hfile_load
    from hbase_bulkload_spark.operators.bulkload import bulkload_wide
    from hbase_bulkload_spark.sources import records
    from hbase_bulkload_spark.sources.records import RECORD_COLS

    sf01 = "/root/testdata/sf0.1"
    wide = records.wide9(spark, sf01).select(*RECORD_COLS)
    want_cells = wide.count() * len(RECORD_COLS) - wide.filter(
        F.col(RECORD_COLS[-1]).isNull()
    ).count()
    src = str(tmp_path / "wide_src")
    wide.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(wide.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    wide_s, quals = bulkload_wide(stream, RECORD_COLS[:4], RECORD_COLS)
    table = str(tmp_path / "table")
    q = stream_ops.start_bulkload_hfile_sink(
        wide_s, quals, table, str(tmp_path / "ckpt_h")
    )
    q.awaitTermination(600)

    got = hfile_load.scan_hfiles(spark, table).count()
    assert got == want_cells, (got, want_cells)

    manifests = hfile_load.compact_table(table)
    assert manifests
    per_region = [
        len(glob.glob(os.path.join(d, "*", "*.hfile")))
        for d in glob.glob(os.path.join(table, "region-*"))
    ]
    assert per_region and max(per_region) == 1
    assert hfile_load.scan_hfiles(spark, table).count() == want_cells


def test_session_gap_boundary(spark):
    """Spark merges on touch: an event exactly `gap` after its
    predecessor EXTENDS the session; one microsecond past the gap opens
    a new one. This pins the boundary rule the oracle's `>` encodes
    (SURVEY.md §7.4 item 2)."""
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:29:59", 1.0),  # same session (< gap)
        (1, "2024-01-01 00:59:59", 1.0),  # extends session
        (1, "2024-01-01 01:29:59", 1.0),  # exactly gap after → still merged
        (1, "2024-01-01 01:59:59.000001", 1.0),  # gap + 1µs → NEW session
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in stream_ops.session_agg(df).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): 4,
        (1, "2024-01-01 01:59:59.000001"): 1,
        (2, "2024-01-01 00:00:00"): 1,
    }


def test_stream_rollup_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: microbatch partials appended by
    foreachBatch, merged at read time, must equal the batch tumbling
    aggregate over the raw events — with the source split so multiple
    microbatches contribute partials for overlapping windows."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "ev_src")
    # several files → several microbatches (maxFilesPerTrigger=1)
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    rollup = str(tmp_path / "rollup")
    q = stream_ops.start_rollup_sink(stream, rollup, str(tmp_path / "ck"))
    q.awaitTermination(120)

    # more partial batch dirs than windows → genuinely incremental
    import glob

    n_batches = len(glob.glob(f"{rollup}/batch_id=*"))
    assert n_batches >= 4, n_batches

    got = _canon_ts(stream_ops.read_rollup(spark, rollup))
    want = _canon_ts(stream_ops.tumbling_agg(ev))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # at-least-once replay: re-run every microbatch against the SAME
    # rollup store (fresh checkpoint → same batch ids re-fire, the
    # worst-case retry). Batch-scoped overwrite must REPLACE partials,
    # not re-append them — the aggregate must not double-count.
    q2 = stream_ops.start_rollup_sink(stream, rollup, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    again = _canon_ts(stream_ops.read_rollup(spark, rollup))
    assert again.exceptAll(want).count() == 0
    assert want.exceptAll(again).count() == 0


def test_stream_upsert_sink_last_writer_wins(spark, tmp_path):
    """Streaming CDC upsert: change rows (keyed, _change_seq-ordered)
    merged per microbatch into a bucketed table; the final table must be
    exactly the last change per key, untouched buckets must not be
    rewritten, and multiple batches compose (cross-batch LWW)."""
    rows = [
        # (key, val, seq) — keys 1..6; key 3 updated twice in-batch,
        # key 1 updated again by a later file (cross-batch)
        (1, "a0", 0), (2, "b0", 1), (3, "c0", 2), (3, "c1", 3), (4, "d0", 4),
        (1, "a1", 5), (5, "e0", 6), (6, "f0", 7),
    ]
    src = str(tmp_path / "changes")
    os.makedirs(src)
    df1 = spark.createDataFrame(rows[:5], "c_custkey long, val string, _change_seq long")
    df2 = spark.createDataFrame(rows[5:], "c_custkey long, val string, _change_seq long")
    df1.coalesce(1).write.parquet(src + "/f1")
    df2.coalesce(1).write.parquet(src + "/f2")
    # two source files → with maxFilesPerTrigger=1, two+ microbatches
    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f*")
    )
    table = str(tmp_path / "table")
    q = stream_ops.start_upsert_sink(
        stream, table, str(tmp_path / "ck"), key="c_custkey", n_buckets=4
    )
    q.awaitTermination(120)

    got = {
        r.c_custkey: r.val for r in spark.read.parquet(table).collect()
    }
    assert got == {1: "a1", 2: "b0", 3: "c1", 4: "d0", 5: "e0", 6: "f0"}

    # the dynamic overwrite is per-writer: the shared session conf must
    # not have been mutated (a later user overwrite-write expecting
    # static semantics would silently keep stale partitions)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_gapfill_locf_crafted(spark):
    """Gap fill on a crafted series: missing days densified with
    n_events = 0, LOCF carries the last observed sum forward, and each
    key's grid spans exactly its own [min, max] day range."""
    rows = [
        ("u1", "2024-01-01 10:00:00", 1.0),
        ("u1", "2024-01-01 11:00:00", 2.0),
        ("u1", "2024-01-04 09:00:00", 5.0),  # 2-day gap before this
        ("u2", "2024-02-10 00:00:00", 7.0),  # single-day key
    ]
    df = spark.createDataFrame(rows, "user_id string, ts_s string, value double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = {
        (r.user_id, str(r.day)[:10]): (r.n_events, r.sum_value, r.locf_value)
        for r in stream_ops.gapfill_resample(df).collect()
    }
    assert len(out) == 5  # u1: Jan 1-4 (4 days), u2: one day
    assert out[("u1", "2024-01-01")] == (2, 3.0, 3.0)
    assert out[("u1", "2024-01-02")] == (0, None, 3.0)  # gap: zero + LOCF
    assert out[("u1", "2024-01-03")] == (0, None, 3.0)
    assert out[("u1", "2024-01-04")] == (1, 5.0, 5.0)
    assert out[("u2", "2024-02-10")] == (1, 7.0, 7.0)


def test_stream_incremental_dedup_sink(spark, sf_dir, tmp_path):
    """Continuous crawl-dedup: streaming the documents corpus through
    the incremental-dedup sink must accept exactly one representative
    per distinct content hash (global coverage, no duplicates), with
    the stored hash index maintained per batch; replaying every
    microbatch against the same stores (fresh checkpoint — the
    at-least-once worst case) must leave both stores equivalent."""
    import glob

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    accepted_dir = str(tmp_path / "accepted")
    index_dir = str(tmp_path / "hash_index")
    q = stream_ops.start_incremental_dedup_sink(
        stream, accepted_dir, index_dir, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    assert len(glob.glob(f"{index_dir}/batch_id=*")) >= 4  # real increments
    accepted = spark.read.parquet(accepted_dir).drop("batch_id")
    n_acc = accepted.count()
    n_acc_hashes = accepted.select(F.md5("text")).distinct().count()
    n_corpus_hashes = docs.select(F.md5("text")).distinct().count()
    assert n_acc == n_acc_hashes == n_corpus_hashes
    idx = spark.read.parquet(index_dir).select("text_hash")
    assert idx.distinct().count() == n_corpus_hashes == idx.count()

    before = sorted(map(tuple, accepted.collect()))
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = stream_ops.start_incremental_dedup_sink(
        stream2, accepted_dir, index_dir, str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    after = sorted(
        map(tuple, spark.read.parquet(accepted_dir).drop("batch_id").collect())
    )
    assert before == after


def test_stream_incremental_near_dedup_sink(spark, sf_dir, tmp_path):
    """Continuous NEAR dedup: after streaming the corpus through the
    MinHash-tier sink, (1) no two accepted docs are near-dups under the
    exact n-gram metric (banding recall is 1.0 on this corpus — pinned
    by tests/test_recall.py), and (2) every rejected doc has an
    accepted >= threshold partner (its dup_of at accept time stays in
    the store)."""
    import glob

    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "near_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    accepted_dir = str(tmp_path / "near_accepted")
    index_dir = str(tmp_path / "near_bands")
    q = stream_ops.start_incremental_near_dedup_sink(
        stream, accepted_dir, index_dir, str(tmp_path / "near_ck")
    )
    q.awaitTermination(120)
    assert len(glob.glob(f"{index_dir}/batch_id=*")) >= 4

    accepted = {
        r.doc_id
        for r in spark.read.parquet(accepted_dir).select("doc_id").collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    rejected = all_ids - accepted
    assert accepted and rejected  # corpus has near-dups

    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    # (1) accepted set pairwise non-near-dup
    internal = [
        (r.doc_a, r.doc_b)
        for r in pairs
        if r.doc_a in accepted and r.doc_b in accepted
    ]
    assert internal == [], internal[:5]
    # (2) every rejected doc has an accepted partner
    partner_of = {}
    for r in pairs:
        if r.doc_a in accepted and r.doc_b in rejected:
            partner_of.setdefault(r.doc_b, r.doc_a)
        if r.doc_b in accepted and r.doc_a in rejected:
            partner_of.setdefault(r.doc_a, r.doc_b)
    missing = rejected - set(partner_of)
    assert not missing, sorted(missing)[:5]
