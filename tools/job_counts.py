"""Driver jobs per query key (r11 verdict item 4 evidence).

    python tools/job_counts.py [sf_dir] [key ...]

Runs each key to the noop sink twice (warm-up + measured) inside a
dedicated job group and reports how many Spark jobs the measured
execution submitted — the per-key orchestration cost that dominates
sub-second keys at sf0.1. One JSON line: {key: n_jobs}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_spark.session import get_spark

import __spark_entry__ as entrymod

DEFAULT_KEYS = [
    "q_bpe_merges",
    "q_dedup_incremental_minhash",
    "q_dedup_near_verdict",
    "q_sim_pairs_lsh",
    "q_sim_pairs_ivf_clustered",
    "q_dedup_components",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    keys = sys.argv[2:] or DEFAULT_KEYS
    spark = get_spark("job-counts")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = {}
    for key in keys:
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobGroup(f"jc:{key}", key)
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(f"jc:{key}")
        out[key] = len(ids)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
