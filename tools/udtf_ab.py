"""A/B: q_udtf_cells' Python UDTF surface vs a mapInArrow reformulation
(r11 verdict item 5, guide §4).

Op 51's CONTRACT is the UDTF surface itself (SURVEY §2 row 51: "Python
UDTF (`@udtf` + SQL LATERAL) reproducing the whole reference mapper";
the codegen'd explode path is already the production form,
q_unpivot_kv). So this A/B cannot change the registered key — it
measures what the surface costs vs the best Python-boundary
alternative, and the number is committed either way.

    python tools/udtf_ab.py [sf_dir] [n_runs]

Prints one JSON line: min/median seconds per variant over n_runs
noop-sink executions, plus a row-count cross-check: the two variants
must emit identical row counts, or the tool exits non-zero before any
timing (full value parity is the oracle's job — q_udtf_cells is
hash-checked against DuckDB).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_spark.session import get_spark
from hbase_bulkload_spark.sources import records


def _map_in_arrow_form(spark, sf_dir):
    """The same 1→N mapper as queries/udf.MapperCells, but batch-at-a-
    time over Arrow with the md5/fan-out vectorized in Python: the §4
    alternative when volume outgrows a per-row UDTF."""
    import hashlib

    import pyarrow as pa

    lines = records.scan_text(spark, sf_dir).select("value")

    def mapper(batches):
        md5 = hashlib.md5
        for rb in batches:
            vals = rb.column(0).to_pylist()
            rowkeys, quals, out_vals = [], [], []
            for line in vals:
                if line is None:
                    continue
                words = line.split("\x01")
                if len(words) != 9:
                    continue
                rk = "".join(
                    md5(w.encode("utf-8")).hexdigest() for w in words[:4]
                )
                for i, w in enumerate(words):
                    rowkeys.append(rk)
                    quals.append(f"z{i}")
                    out_vals.append(w)
            yield pa.RecordBatch.from_pydict(
                {"rowkey": rowkeys, "qualifier": quals, "value": out_vals}
            )

    return lines.mapInArrow(
        mapper, "rowkey string, qualifier string, value string"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    spark = get_spark("udtf-ab")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    variants = {
        "udtf": lambda: qs["q_udtf_cells"](spark, sf_dir),
        "map_in_arrow": lambda: _map_in_arrow_form(spark, sf_dir),
    }
    counts = {k: fn().count() for k, fn in variants.items()}
    if counts["udtf"] != counts["map_in_arrow"]:
        sys.exit(f"udtf_ab: variants emit different row counts {counts}; not timed")
    out: dict[str, dict] = {"rows": counts, "sf_dir": sf_dir}
    for name, fn in variants.items():
        times = []
        for _ in range(n_runs):
            df = fn()
            spark.sparkContext.setJobDescription(f"udtf_ab:{name}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "min": min(times),
            "median": statistics.median(times),
            "runs": times,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
