"""Phase decomposition of the HFile round-trip keys: separates the
shared bulkload_pipeline compute from the encode work, and the scan
decode from the summary aggregation, and adds stub-body arms that run
the same plan shape with the codec work removed — so framework overhead
(DSv2 Python writer vs mapInArrow) has its own number.

    python tools/hfile_phase_profile.py [sf_dir] [n_runs]

Prints one JSON line of per-phase min-of-n seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import pyarrow as pa

    from hbase_bulkload_spark.operators import hfile_load as hl
    from hbase_bulkload_spark.queries.ingest import (
        KEY_COLS,
        RECORD_COLS,
        _hfile_bucket_summary,
        bulkload_pipeline,
        oracle_safe,
    )
    from hbase_bulkload_spark.sources import records
    from hbase_bulkload_spark.sources.hfile_datasource import register

    spark = get_spark("hfile-phase-profile")
    spark.sparkContext.setLogLevel("ERROR")
    oracle_safe(spark)
    register(spark)
    scratch = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    boundaries = [format(i, "x").encode() for i in range(16)]

    def kv_frame():
        return bulkload_pipeline(
            records.wide9(spark, sf_dir), KEY_COLS, RECORD_COLS, range_partitions=32
        )

    phases: dict[str, list[float]] = {}

    def phase(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        fn()
        phases.setdefault(name, []).append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

    def stub_consume(batches):
        n = 0
        for rb in batches:
            n += rb.num_rows
        yield pa.RecordBatch.from_pydict({"n": [n]}, schema=pa.schema([("n", pa.int64())]))

    # a persistent table for the read-side arms (built once, outside timing)
    work = os.path.join(scratch, "hfile_profile")
    shutil.rmtree(work, ignore_errors=True)
    staging, table_dir = os.path.join(work, "staging"), os.path.join(work, "table")
    manifest = hl.write_region_hfiles(kv_frame(), staging)
    hl.do_bulk_load([m["path"] for m in manifest], table_dir, boundaries, spark=spark)

    for _ in range(n_runs):
        # --- write side -------------------------------------------------
        phase("pipeline_noop", lambda: kv_frame().write.format("noop").mode("overwrite").save())
        phase(
            "pipeline_stub_mapinarrow",
            lambda: kv_frame().mapInArrow(stub_consume, "n long").write.format("noop").mode("overwrite").save(),
        )
        d1 = os.path.join(scratch, "hfile_profile_w1")
        shutil.rmtree(d1, ignore_errors=True)
        phase("op_write", lambda: hl.write_region_hfiles(kv_frame(), d1))
        shutil.rmtree(d1, ignore_errors=True)
        d2 = os.path.join(scratch, "hfile_profile_w2")
        phase(
            "ds_write",
            lambda: kv_frame().write.format("hfile").mode("overwrite").save(d2),
        )
        shutil.rmtree(d2, ignore_errors=True)

        # --- read side ----------------------------------------------------
        phase(
            "op_scan_noop",
            lambda: hl.scan_hfiles(spark, table_dir, columns=["value"])
            .select("rowkey", "value")
            .write.format("noop").mode("overwrite").save(),
        )
        phase(
            "ds_scan_noop",
            lambda: spark.read.format("hfile")
            .option("columns", "value")
            .load(table_dir)
            .select("rowkey", "value")
            .write.format("noop").mode("overwrite").save(),
        )
        phase(
            "op_scan_summary",
            lambda: _hfile_bucket_summary(
                hl.scan_hfiles(spark, table_dir, columns=["value"]).select("rowkey", "value")
            ).write.format("noop").mode("overwrite").save(),
        )
        phase(
            "ds_scan_summary",
            lambda: _hfile_bucket_summary(
                spark.read.format("hfile")
                .option("columns", "value")
                .load(table_dir)
                .select("rowkey", "value")
            ).write.format("noop").mode("overwrite").save(),
        )

    shutil.rmtree(work, ignore_errors=True)
    out = {k: min(v) for k, v in phases.items()}
    out["_all"] = phases
    print(json.dumps(out))


if __name__ == "__main__":
    main()
