"""Structured-Streaming surface (SURVEY.md §2.12 ops 44-48).

Each transformation is written once against a plain DataFrame, so the
same function serves a batch frame (oracle-checkable; how the driver
verifies it) and a `readStream` frame (how it deploys: readStream →
transform → writeStream, watermarks bounding state). The reference is
batch-only MapReduce; this is the engine's streaming extension.

tests/test_streaming.py runs these through a real file-source
readStream → memory-sink writeStream with `availableNow` and asserts
stream == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from hbase_bulkload_spark.functions.numeric import dsum


def tumbling_agg(df: DataFrame, ts_col: str = "ts", width: str = "1 hour") -> DataFrame:
    """Op 44: tumbling event-time window per event_type."""
    return (
        df.groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Op 45: sliding (hopping) event-time window; each event lands in
    width/slide overlapping windows."""
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_agg(
    df: DataFrame, key: str = "user_id", ts_col: str = "ts", gap: str = "30 minutes"
) -> DataFrame:
    """Op 46: gap-based session window per key (session start = first
    event; sessions merge on touch — an event exactly `gap` after its
    predecessor EXTENDS the session; only a strictly larger gap opens a
    new one. Boundary pinned by tests/test_streaming.py::
    test_session_gap_boundary and the oracle's strict `>` comparison)."""
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def gapfill_resample(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step: str = "1 day",
) -> DataFrame:
    """Time-series resample + gap fill with LOCF (the hypertable-style
    continuous-aggregate read path): bucket events to a fixed grid step,
    then densify each key's [min, max] bucket span — absent buckets get
    n_events = 0 and a last-observation-carried-forward value.

    Scale shape: the only full-data work is the first (key, bucket) hash
    aggregate; everything after (span agg, `sequence`/`explode` grid,
    left join, LOCF window) runs on the aggregated frame, which is
    |keys| × |buckets| ≪ |events|. The grid explode is a narrow map-side
    Generate; the LOCF window partitions by key — no global window."""
    from pyspark.sql import Window

    bucket = F.date_trunc("DAY", F.col(ts_col))  # step granularity below
    daily = df.groupBy(F.col(key), bucket.alias("day")).agg(
        F.count("*").alias("n_events"), dsum(value_col).alias("sum_value")
    )
    span = daily.groupBy(key).agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        key, F.explode(F.sequence("d0", "d1", F.expr(f"INTERVAL {step}"))).alias("day")
    )
    joined = grid.join(daily, [key, "day"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key,
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("locf_value"),
    )


def dedup_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Op 48: stateful dedup. Output is the distinct key set — the part
    of dropDuplicates that is deterministic regardless of which physical
    row survives (in streaming, state is bounded by a prior watermark)."""
    return df.dropDuplicates(keys).select(*keys)


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "90 days") -> DataFrame:
    """Op 47: late-data bound — the streaming analog of the TTL filter
    (`create_table.rb:1` TTL => 90 days). No-op on batch frames.

    Watermarks require instant (TIMESTAMP_LTZ) event time; parquet
    wall-clock columns arrive as TIMESTAMP_NTZ, so the streaming path
    reinterprets them as UTC instants (session tz is pinned to UTC by
    session.oracle_safe, so the wall-clock values are unchanged)."""
    if df.isStreaming:
        if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return df.withWatermark(ts_col, delay)
    return df


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
) -> DataFrame:
    """Op 48c: stream-stream interval join — each left event matches
    right events of the same key whose timestamp falls in
    ``[left_ts - within, left_ts]`` (right happened first, at most
    ``within`` before).

    Written once against plain DataFrames: in batch it is an equi-join
    on ``key`` with a range residual (one shuffle per side, no range
    blow-up); on streams the same plan + a watermark on BOTH sides lets
    Spark bound the join state — the interval condition tells it when a
    buffered right row can never match again and is evicted
    (stream-stream inner join, Structured Streaming guide). The caller
    watermarks each stream via ``with_watermark`` before joining;
    tests/test_streaming.py::test_stream_interval_join_matches_batch
    drives both file-source streams through availableNow and asserts
    stream == batch."""
    l = left.select(
        F.col(key),
        F.col("event_id").alias("left_id"),
        F.col(ts_col).alias("left_ts"),
    )
    r = right.select(
        F.col(key).alias("__rkey"),
        F.col("event_id").alias("right_id"),
        F.col(ts_col).alias("right_ts"),
    )
    cond = (
        (F.col(key) == F.col("__rkey"))
        & (F.col("right_ts") <= F.col("left_ts"))
        & (F.col("left_ts") <= F.col("right_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond).select(key, "left_id", "left_ts", "right_id", "right_ts")


# ---------------------------------------------------------------------------
# Op 48b: custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STATEFUL_OUT = "user_id bigint, n_events bigint, sum_value double"
_SCALE = 10_000  # micro-units: value rounded to 4 dp, summed exactly as longs


def user_running_stats(df: DataFrame) -> DataFrame:
    """Per-user running (count, sum) — the engine's custom stateful
    operator. On a streaming frame this is `applyInPandasWithState`
    (arbitrary per-key state, the extension point Spark gives for
    operators its built-ins can't express); on a batch frame the exact
    same semantics come from one hash aggregate, which is what the
    DuckDB oracle checks.

    Determinism across the two paths: `value` is scaled to integral
    4-dp micro-units *before* accumulation (JVM-side `round` — HALF_UP),
    so sums are exact integer arithmetic in any order — the same trick
    as functions.numeric.dsum's decimal interior.
    """
    micro = F.round(F.col("value") * _SCALE).cast("long").alias("micro")
    scaled = df.select("user_id", micro)

    if not df.isStreaming:
        return scaled.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            (F.sum("micro") / float(_SCALE)).alias("sum_value"),
        )

    import pandas as pd  # executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def upd(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["micro"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [total / _SCALE],
            }
        )

    return scaled.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType=_STATEFUL_OUT,
        stateStructType="n bigint, total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming ingest: the flagship bulk-load dataflow as a stream
# ---------------------------------------------------------------------------

def stream_bulkload_cells(records_stream: DataFrame, key_cols, value_cols) -> DataFrame:
    """The reference's ingest dataflow lifted to Structured Streaming:
    rowkey derivation, KV unpivot, and bucket assignment are all *narrow*
    (per-row) transformations, so they attach to a readStream source
    unchanged — only the terminal sort of the batch pipeline is replaced
    by the sink's `partitionBy(bucket)` (per-microbatch region files;
    compaction, like HBase's, happens downstream)."""
    from hbase_bulkload_spark.operators.bulkload import bulkload_kv

    return bulkload_kv(records_stream, key_cols, value_cols)


def start_bulkload_sink(cells: DataFrame, path: str, checkpoint: str):
    """availableNow file-sink writer: Snappy parquet, one directory per
    bucket — the streaming analog of write_bulkload's contract."""
    return (
        cells.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", "snappy")
        .partitionBy("bucket")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_bulkload_hfile_sink(
    wide: DataFrame,
    qualifiers: list[bytes],
    table_dir: str,
    checkpoint: str,
):
    """Stream → loaded HFile table: each microbatch of wide rows and
    their ``qualifiers`` (`operators.bulkload.bulkload_wide`, which is
    narrow and attaches to a readStream source unchanged) is written as
    executor-side region HFiles by `hfile_load.write_region_hfiles`,
    which region-aligns it, under a batch-scoped staging dir (file names
    batch-stamped so successive loads never collide), and placed into
    the 16 hex-nibble regions by the doBulkLoad analog — HBase's own
    incremental bulk-load pattern. Successive batches leave overlapping
    files per region, exactly as successive `doBulkLoad` calls do on a
    live table; `hfile_load.compact_table` restores the one-sorted-file
    invariant, completing stream → load → compact."""
    import os
    import shutil

    from hbase_bulkload_spark.operators import hfile_load
    from hbase_bulkload_spark.operators.bulkload import region_boundaries

    boundaries = region_boundaries()

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        staging = os.path.join(table_dir, f"_staging_{batch_id:05d}")
        manifest = hfile_load.write_region_hfiles(batch_df, staging, qualifiers)
        paths = []
        for m in manifest:
            unique = os.path.join(
                staging, f"b{batch_id:05d}-{os.path.basename(m['path'])}"
            )
            os.rename(m["path"], unique)
            paths.append(unique)
        # At-least-once safety: every artifact of batch b carries the
        # b{batch_id:05d}- prefix, and a (re)delivery PURGES that
        # namespace from the table before loading — the executor-side
        # file names embed task attempt ids (speculative-execution
        # safety), so a re-run's files do NOT collide with the first
        # attempt's and a bare re-load would duplicate the batch's
        # cells. Purge + load is not atomic, but both crash windows
        # converge: a crash before/during load re-purges and re-loads on
        # the next delivery; a crash after load but before the
        # checkpoint commit re-delivers the batch, which purges the
        # complete first copy and loads an equivalent one. Split halves
        # inherit the prefix (do_bulk_load derives split names from the
        # source stem), so they are purged too. Pinned by
        # tests/test_streaming_faults.py (crash-injection).
        import glob as _glob

        prefix = f"b{batch_id:05d}-"
        for stale in _glob.glob(
            os.path.join(table_dir, "region-*", "*", f"{prefix}*")
        ):
            os.remove(stale)
        _maybe_fault("pre_load", batch_id)
        if paths:
            hfile_load.do_bulk_load(
                paths, table_dir, boundaries, spark=batch_df.sparkSession
            )
        _maybe_fault("post_load", batch_id)
        shutil.rmtree(staging, ignore_errors=True)

    return (
        wide.writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_rollup_sink(
    events: DataFrame,
    rollup_dir: str,
    checkpoint: str,
    ts_col: str = "ts",
    width: str = "1 hour",
):
    """Continuous-aggregate maintenance (the hypertable pattern): each
    microbatch reduces to per-(window, event_type) PARTIALS — count and
    a decimal-exact value sum — written to the rollup store under a
    batch-scoped directory. Merge happens at read time (`read_rollup`),
    so maintenance never read-modify-writes existing partials. The
    batch-scoped OVERWRITE is what makes retries idempotent: foreachBatch
    is only at-least-once, so a batch re-run after a partial/complete
    write must REPLACE its own partials — a flat append would re-append
    them and read_rollup would double-count those windows. Store size
    grows with (windows × batches); periodic compaction is `read_rollup`
    rewritten in place — the same delta-plus-compaction discipline as
    the HFile sink."""

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.groupBy(F.window(ts_col, width).alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("sum_dec"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "sum_dec",
            )
        )
        _maybe_fault("pre_write", batch_id)
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{rollup_dir}/batch_id={batch_id}"
        )
        # crash window: partials are on disk but the checkpoint has not
        # committed — the whole batch re-fires against its own output;
        # the batch-scoped overwrite above is what makes that a no-op
        _maybe_fault("post_write", batch_id)

    return (
        events.writeStream.foreachBatch(write_partials)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark, rollup_dir: str) -> DataFrame:
    """Merge the rollup store's partials into the current continuous
    aggregate — a hash agg over (windows × batches) rows, ≪ raw events.
    Emits the same schema/values as `tumbling_agg` on the raw stream
    (parity pinned by tests/test_streaming.py)."""
    # batch_id is a partition directory (idempotent per-batch overwrite);
    # it participates in nothing downstream
    part = spark.read.parquet(rollup_dir).drop("batch_id")
    return part.groupBy("window_start", "window_end", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
    )


# Test-only failure injection for the at-least-once safety tests
# (tests/test_streaming_faults.py). When set, the dedup sinks call it at
# two points per microbatch: ("pre_index", b) after the accepted write
# but before the index write — a torn-store crash window — and
# ("post_index", b) after both writes but before Spark commits the
# batch — the full duplicate-delivery window. Raising from the hook
# fails the streaming query exactly there; production never sets it.
_fault_hook = None


def _maybe_fault(point: str, batch_id: int) -> None:
    if _fault_hook is not None:
        _fault_hook(point, batch_id)


def start_incremental_dedup_sink(
    docs: DataFrame,
    accepted_dir: str,
    index_dir: str,
    checkpoint: str,
):
    """The crawl-ingest loop as a streaming query: each microbatch is
    exact-deduped against the STORED hash index
    (`operators.dedup.incremental_dedup` with ``history_hashes=``),
    accepted docs land in ``accepted_dir`` and their hashes extend the
    index — so the index is maintained continuously and no batch ever
    re-hashes the corpus.

    Both stores are batch-scoped directories with per-batch OVERWRITE
    (the rollup sink's idempotence discipline — foreachBatch is only
    at-least-once). A replayed batch b reads the index restricted to
    STRICTLY EARLIER batches (batch_id < b; foreachBatch ids are
    monotonic): that reproduces exactly the input the original run of
    batch b saw, so the replay reproduces the original verdicts
    without relying on any property of later batches."""
    import glob as _glob
    import os

    from hbase_bulkload_spark.operators.dedup import incremental_dedup

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _glob.glob(os.path.join(index_dir, "batch_id=*")):
            stored = (
                spark.read.parquet(index_dir)
                .filter(F.col("batch_id") < batch_id)
                .select("text_hash")
            )
        else:
            stored = spark.createDataFrame([], "text_hash string")
        verdicts = incremental_dedup(
            batch_df.limit(0), batch_df, history_hashes=stored
        )
        keep = verdicts.filter("keep").select("doc_id", "text_hash")
        accepted = batch_df.join(keep.select("doc_id"), "doc_id")
        accepted.write.mode("overwrite").parquet(
            f"{accepted_dir}/batch_id={batch_id}"
        )
        _maybe_fault("pre_index", batch_id)
        keep.select("text_hash").distinct().coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/batch_id={batch_id}")
        _maybe_fault("post_index", batch_id)

    return (
        docs.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_near_dedup_sink(
    docs: DataFrame,
    accepted_dir: str,
    index_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
):
    """Continuous NEAR dedup — the crawl loop at the MinHash tier: each
    microbatch runs `incremental_minhash_dedup` against the STORED band
    index (signatures computed once per doc ever) with the accepted
    corpus as the verification side, then accepted docs and their band
    keys extend the stores. Batch-scoped overwrite for idempotence,
    like the exact sink — on replay both stores are filtered to
    batch_id < b (foreachBatch ids are monotonic), which reproduces
    the original input exactly; filtering with != b would admit LATER
    batches whose verdicts depend on probabilistic banding recall and
    could flip a replayed doc's verdict. Verification text is fetched
    only for candidate docs (semi-join inside the operator).

    Semantics of the accepted set: every accepted doc had no
    ≥-threshold neighbor among PREVIOUSLY accepted docs (banding
    recall applies — the batch operator's RECALL artifact quantifies
    it), so accepted documents are pairwise non-near-dup up to that
    recall."""
    import glob as _glob
    import os

    from hbase_bulkload_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
    )

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        have_idx = bool(_glob.glob(os.path.join(index_dir, "batch_id=*")))
        if have_idx:
            # keep the (k, bands, n) parameter columns aboard: the
            # dedup call validates them against its derived banding,
            # so an index persisted under older defaults fails loudly
            # instead of silently matching zero band keys. mergeSchema
            # because the dir can mix pre-parameter 3-column batches
            # with 6-column ones across an upgrade boundary — without
            # it the parameter columns' presence depends on which
            # file's footer Spark samples; with it legacy batches read
            # as null parameters, which the validator treats as legacy
            # rows (band-count fallback) rather than a mismatch
            stored_bands = (
                spark.read.option("mergeSchema", "true")
                .parquet(index_dir)
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )
            history = (
                spark.read.parquet(accepted_dir)
                .filter(F.col("batch_id") < batch_id)
                .select("doc_id", "text")
            )
        else:
            stored_bands = spark.createDataFrame(
                [], "band int, bkey long, doc_id long, k int, bands int, n int"
            )
            history = spark.createDataFrame([], "doc_id long, text string")
        verdicts = incremental_minhash_dedup(
            history, batch_df, threshold=threshold, history_bands=stored_bands
        )
        keep_ids = verdicts.filter("keep").select("doc_id")
        accepted = batch_df.join(keep_ids, "doc_id")
        accepted.write.mode("overwrite").parquet(
            f"{accepted_dir}/batch_id={batch_id}"
        )
        _maybe_fault("pre_index", batch_id)
        # index MUST be built at the sink's threshold: the dedup call
        # derives its banding from it, and a default-threshold index
        # under a non-default sink threshold would never match
        minhash_band_index(accepted, threshold=threshold).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/batch_id={batch_id}")
        _maybe_fault("post_index", batch_id)

    return (
        docs.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_upsert_sink(
    changes: DataFrame,
    table_dir: str,
    checkpoint: str,
    key: str = "c_custkey",
    n_buckets: int = 8,
):
    """Streaming CDC upsert (op 24b lifted to foreachBatch): merge each
    microbatch of change rows into a bucket-partitioned keyed table.
    Last-writer-wins within and across batches.

    Scale shape: the table is hash-bucketed on the key; a microbatch
    only REWRITES the buckets its keys touch (dynamic partition
    overwrite) — merge cost tracks the batch's key spread, not table
    size. Within a batch, the newest change per key wins (batches are
    ordered, so cross-batch last-writer-wins follows); the anti-join +
    union is the same rewrite as the batch q_merge_upsert."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.sql import Window

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
        w = Window.partitionBy(key).orderBy(F.desc("_change_seq"))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_change_seq")
            .withColumn("bucket", bucket)
        )
        has_table = os.path.exists(table_dir) and any(
            d.startswith("bucket=") for d in os.listdir(table_dir)
        )
        if has_table:
            existing = spark.read.parquet(table_dir)
            touched = latest.select("bucket").distinct()
            kept = existing.join(F.broadcast(touched), "bucket", "left_semi").join(
                latest.select(key), key, "left_anti"
            )
            # lineage cut: the merged frame must not reference the path
            # it is about to overwrite (and recomputation on task retry
            # must not observe half-rewritten buckets)
            out = kept.unionByName(latest).localCheckpoint(eager=True)
        else:
            out = latest
        _maybe_fault("pre_merge", batch_id)
        # dynamic overwrite scoped to THIS write (only touched buckets are
        # replaced) — set per-writer, not on the shared session conf, so
        # later overwrite-writes in the same session keep static semantics
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(table_dir)
        # crash window: the merge is fully applied but uncommitted — the
        # re-delivered batch must merge against a table that already
        # contains its own rows (the anti-join on the batch's keys is
        # what makes the re-merge reproduce, not duplicate)
        _maybe_fault("post_merge", batch_id)

    return (
        changes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
