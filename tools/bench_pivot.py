"""Head-to-head bench of the two pivot_wide variants (SURVEY §2.4 op 14c):

    python tools/bench_pivot.py [sf_dir] [n_runs]

- default:  shuffle all cells on rowkey, one scatter-pivot hop
- partial:  map-side partial pivot, shuffle ~9x fewer wide rows, merge

Prints one JSON line with per-variant median seconds so the local-tier
choice (default) is a measured decision, not a prose argument. On a
multi-node cluster re-run this; the partial variant's smaller shuffle
should win once the exchange crosses a real network.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_spark.functions.keys import composite_rowkey
from hbase_bulkload_spark.operators.kv import pivot_wide, unpivot_kv
from hbase_bulkload_spark.queries.ingest import KEY_COLS
from hbase_bulkload_spark.session import get_spark
from hbase_bulkload_spark.sources import records


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    spark = get_spark("bench-pivot")
    spark.sparkContext.setLogLevel("ERROR")

    w = records.wide9(spark, sf_dir)
    kv = unpivot_kv(w, composite_rowkey(*KEY_COLS), records.RECORD_COLS)

    results: dict[str, dict] = {}
    for label, partial in (("default", False), ("partial", True)):
        df = pivot_wide(kv, records.RECORD_COLS, partial=partial)
        df.count()  # warm-up: JIT, Arrow init, fixture cache
        times = []
        for _ in range(n_runs):
            spark.sparkContext._jvm.System.gc()
            t0 = time.monotonic()
            n = df.count()
            times.append(time.monotonic() - t0)
        results[label] = {"median_s": round(statistics.median(times), 3), "rows": n}

    print(
        json.dumps(
            {
                "metric": "pivot_variant_bench",
                "sf_dir": sf_dir,
                "n_runs": n_runs,
                **results,
            }
        )
    )


if __name__ == "__main__":
    main()
