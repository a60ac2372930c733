"""The benchmark's workloads. Each is a closed loop with one client that
calls only the package's public functions on generated inputs.

A workload provides:

- ``prepare()``: generate inputs (and, for ``table_read``, the table);
- ``CYCLE``: the request kinds, in the order they repeat; warm-up and the
  measured loop each cover whole cycles;
- ``request(i)``: the ``i``-th request → (kind, result); request 0 runs
  in the fresh session (``session.cold_request_s``);
- ``check(kind, result)``: the request's output check, run untimed;
- ``units(kind, result)``: the rows or cells one request delivered;
- ``final_check()``: deeper output checks run once, after the timed loop;
- ``e2e(samples)``: the end-to-end metrics from the measured requests'
  (kind, seconds, units) samples;
- ``layers(tracer)``: per-layer numbers for a traced run.

Sizes are fixed per workload (see ``SIZES``) so that one run finishes
well inside its time budget on a 4-core host.
"""

from __future__ import annotations

import bisect
import glob
import itertools
import os
import random
import statistics
import time

import gen
import spans

SIZES = {
    "bulkload_csv_hfile": {"rows": 30_000},
    "table_read": {"rows": 30_000, "get_keys": 64, "absent_share": 0.25, "zipf_s": 1.1,
                   "prefix_chars": 3},
    # measured in the traced runs of table_read and bulkload_csv_hfile
    "near_dup": {"docs": 3_000, "threshold": 0.5},
    "avro_parquet": {"rows": 40_000},
}
BOUNDARIES = [format(i, "x").encode() for i in range(16)]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t, out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _rate(samples) -> float:
    """Rows or cells delivered per second of request time, over whole
    request cycles."""
    seconds = sum(s for _, s, _ in samples)
    return sum(u for _, _, u in samples) / seconds if seconds else 0.0


def _hfiles(table: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table, "region-*", "*", "*.hfile")))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _table_cells(table: str) -> int:
    from hbase_bulkload_spark.sources import hfile as hf

    n = 0
    for p in _hfiles(table):
        with open(p, "rb") as f:
            n += hf.read_trailer(f).entry_count
    return n


def _check_hfile_cells(path: str, expected: dict[str, list]) -> list[str]:
    """Every cell of one loaded HFile is an expected (rowkey, qualifier,
    value) of the input, in (rowkey, qualifier) order, and every row of
    the file is complete."""
    from hbase_bulkload_spark.sources import hfile as hf

    errors = []
    got: dict[str, list] = {}
    prev = None
    for row, fam, qual, _ts, value in hf.iter_hfile(path):
        rk, q = row.decode(), qual.decode()
        if fam != b"c":
            errors.append(f"{path}: family {fam!r}")
        if prev is not None and (rk, q) < prev:
            errors.append(f"{path}: cells out of order at {rk[:16]}")
        prev = (rk, q)
        got.setdefault(rk, []).append((q, value.decode()))
    for rk, cells in got.items():
        if sorted(cells) != expected.get(rk):
            errors.append(f"{path}: row {rk[:16]}… differs from the input")
    return errors[:5]


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.rng = random.Random(seed * 7919 + 17)
        self.errors: list[str] = []
        #: False once a request measured only in the traced run failed
        self.probe_ok = True
        #: input properties of those requests, for the run's info line
        self.probe_inputs: dict = {}

    def fail(self, msg: str) -> bool:
        self.errors.append(msg)
        return False


# ---------------------------------------------------------------------------
# bulkload_csv_hfile
# ---------------------------------------------------------------------------

class BulkloadCsvHfile(Workload):
    """CSV → arity gate → rowkey → cells → one shuffle and sort → HFiles →
    bulk-load placement, through ``cli.ingest(fmt="csv", sink="hfile")``."""

    name = "bulkload_csv_hfile"
    CYCLE = ("ingest",)

    def prepare(self) -> None:
        self.inp = gen.csv_records(os.path.join(self.work, "in"), self.seed, self.size["rows"])
        self.table = os.path.join(self.work, "table")

    def inputs(self) -> dict:
        i = self.inp
        return {
            "rows": i["n_input"], "csv_bytes": i["bytes"],
            "skipped_share": round(1 - i["n_valid"] / i["n_input"], 4),
            "dup_key_share": round(i["n_dup_key_rows"] / i["n_input"], 4),
            "cells": i["n_cells"],
            **self.probe_inputs,
        }

    def ingest(self) -> dict:
        from hbase_bulkload_spark import cli

        return cli.ingest(
            self.spark, self.inp["path"], self.table, fmt="csv", sink="hfile",
            collect_metrics=True,
        )

    def request(self, i: int):
        return "ingest", self.ingest()

    def check(self, kind: str, m: dict) -> bool:
        ok = True
        if (m["n_input"], m["n_valid"]) != (self.inp["n_input"], self.inp["n_valid"]):
            ok = self.fail(f"ingest metrics {m} != generator counts")
        n = _table_cells(self.table)
        if n != self.inp["n_cells"]:
            ok = self.fail(f"loaded {n} cells, expected {self.inp['n_cells']}")
        return ok

    def final_check(self) -> bool:
        files = _hfiles(self.table)
        sample = files[self.seed % len(files)]
        errs = _check_hfile_cells(sample, self.inp["cells"])
        return (not errs or self.fail("; ".join(errs))) and self.probe_ok

    def units(self, kind: str, m: dict) -> int:
        return m["n_input"]

    def e2e(self, samples) -> dict:
        return {
            "warm_per_s": _rate(samples),
            "op_p50_ms": 1000 * _median([s for _, s, _ in samples]),
        }

    def layers(self, tracer) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hbase_bulkload_spark import cli
        from hbase_bulkload_spark.functions.keys import composite_rowkey
        from hbase_bulkload_spark.operators import bulkload
        from hbase_bulkload_spark.operators.kv import unpivot_kv

        out: dict = {}
        rid = "traced-0"
        out["hfile_load.write_s"] = tracer.total("operators.hfile_load.write_region_hfiles", rid)
        out["bulk_load.place_s"] = tracer.total("operators.hfile_load.do_bulk_load", rid)
        written = tracer.find("operators.hfile_load.write_region_hfiles", rid)
        loaded = tracer.find("operators.hfile_load.do_bulk_load", rid)
        if written and loaded:
            out["bulk_load.files_split"] = loaded[0]["n_out"] - written[0]["n_out"]
            per_task: dict[str, int] = {}
            for m in written[0]["out"] or []:
                task = os.path.basename(m["path"]).split("-")[1]
                per_task[task] = per_task.get(task, 0) + m["entry_count"]
            if per_task:
                out["exchange.max_over_median_partition_cells"] = (
                    max(per_task.values()) / statistics.median(per_task.values())
                )
            out["hfile.blocks"] = sum(m["n_blocks"] for m in written[0]["out"] or [])
        files = _hfiles(self.table)
        out["hfile.files"] = len(files)
        out["hfile.bytes"] = _dir_bytes(self.table)
        out["hfile.stored_bytes_per_input_byte"] = out["hfile.bytes"] / self.inp["bytes"]
        out["cli.rows_in"] = self.inp["n_input"]

        # staged noop materializations at each layer boundary, twice each;
        # a layer's time is the increment over the previous boundary
        spark, path = self.spark, self.inp["path"]
        cols = gen.COLS
        keys = cols[: gen.KEY_COLS]

        def scan():
            return cli.read_csv(spark, path, gen.N_COLUMNS)

        def with_keys():
            return scan().select(composite_rowkey(*keys).alias("rowkey"), *cols)

        def cells():
            return unpivot_kv(scan(), composite_rowkey(*keys), cols)

        def aligned():
            return bulkload.region_align(bulkload.bulkload_kv(scan(), keys, cols))

        stage_t = {}
        with tracer.request("staged"):
            for name, build in (("scan", scan), ("keys", with_keys),
                                ("cells", cells), ("aligned", aligned)):
                ts = []
                for _ in range(2):
                    with tracer.span(f"staged.{name}"):
                        ts.append(_timed(_noop, build())[0])
                stage_t[name] = min(ts)
            obs_cells = Observation()
            _noop(cells().observe(obs_cells, F.count(F.lit(1)).alias("n")))
        out["cli.scan_s"] = stage_t["scan"]
        out["keys.s"] = stage_t["keys"] - stage_t["scan"]
        out["kv.unpivot_s"] = stage_t["cells"] - stage_t["keys"]
        out["exchange.s"] = stage_t["aligned"] - stage_t["cells"]
        out["kv.cells_out"] = obs_cells.get["n"]
        out["cli.rows_skipped"] = self.inp["n_input"] - self.inp["n_valid"]
        out["cli.valid_ratio"] = self.inp["n_valid"] / self.inp["n_input"]
        out["hfile.encode_MB_per_s"] = _encode_probe(files[0], self.work)
        avro = AvroParquet(spark, os.path.join(self.work, "avro"), self.seed)
        with tracer.request("avro"):
            out.update(avro.layers(tracer))
        self.probe_inputs["avro_parquet"] = avro.inputs()
        self.probe_ok = avro.check() or self.fail("; ".join(avro.errors))
        return out


def _encode_probe(src: str, work: str, reps: int = 3) -> float:
    """One region's sorted cells re-encoded in-driver with the package's
    ``HFileWriter.add_many_arrow`` (no Spark): plain cell MB per second."""
    import pyarrow as pa

    from hbase_bulkload_spark.sources import hfile as hf

    rows, fams, quals, vals = [], [], [], []
    for r, f_, q, _ts, v in hf.iter_hfile(src):
        rows.append(r)
        fams.append(f_)
        quals.append(q)
        vals.append(v)
    arrays = [pa.array(x, pa.binary()) for x in (rows, fams, quals, vals)]
    mb = sum(a.nbytes for a in arrays) / 1e6
    dst = os.path.join(work, "encode-probe.hfile")
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        w = hf.HFileWriter(dst, "snappy")
        w.add_many_arrow(arrays[0], arrays[1], arrays[2], 0, arrays[3])
        w.close()
        times.append(time.perf_counter() - t)
    os.unlink(dst)
    return mb / _median(times)


# ---------------------------------------------------------------------------
# table_read
# ---------------------------------------------------------------------------

class TableRead(Workload):
    """Reads of a bulk-loaded table, writing nothing: a repeating cycle of
    full scans to the noop sink, 64-key multi-gets and a narrow prefix
    scan (see ``CYCLE``)."""

    name = "table_read"
    CYCLE = ("scan", "get", "get", "get", "get", "get", "get", "range")

    def prepare(self) -> None:
        from hbase_bulkload_spark.operators.hfile_load import do_bulk_load

        self.inp = gen.csv_records(
            os.path.join(self.work, "in"), self.seed, self.size["rows"],
            bad_arity=0.0, empty_last=0.0,
        )
        self.table = os.path.join(self.work, "table")
        staging = os.path.join(self.work, "staging")
        paths = _write_region_files(self.inp["cells"], staging)
        do_bulk_load(paths, self.table, BOUNDARIES)
        keys = sorted(self.inp["cells"])
        self.rng.shuffle(keys)  # Zipf rank order
        self.keys = keys
        s = self.size["zipf_s"]
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(keys))))
        self.n_cells = self.inp["n_cells"]
        self.n_requested = self.n_hits = 0

    def inputs(self) -> dict:
        i = self.inp
        return {
            "rows": i["n_valid"], "distinct_rowkeys": len(i["cells"]),
            "cells": i["n_cells"], "table_bytes": _dir_bytes(self.table),
            "get_keys": self.size["get_keys"], "absent_share": self.size["absent_share"],
            "zipf_s": self.size["zipf_s"], "prefix_chars": self.size["prefix_chars"],
            "cycle": list(self.CYCLE),
            **self.probe_inputs,
        }

    def _get_keys(self) -> tuple[list[str], list[str]]:
        n = self.size["get_keys"]
        n_absent = round(n * self.size["absent_share"])
        present: set[str] = set()
        total = self.cum[-1]
        while len(present) < n - n_absent:
            r = bisect.bisect_left(self.cum, self.rng.random() * total)
            present.add(self.keys[min(r, len(self.keys) - 1)])
        absent = [
            gen.rowkey([f"absent-{self.rng.random()}"] * gen.KEY_COLS)
            for _ in range(n_absent)
        ]
        return sorted(present), absent

    def request(self, i: int):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hbase_bulkload_spark.operators.hfile_load import multi_get, scan_hfiles

        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind == "scan":
            obs = Observation()
            _noop(scan_hfiles(self.spark, self.table).observe(obs, F.count(F.lit(1)).alias("n")))
            return kind, obs.get["n"]
        if kind == "get":
            present, absent = self._get_keys()
            return kind, (present, absent, multi_get(self.spark, self.table, present + absent).collect())
        p = self.keys[self.rng.randrange(len(self.keys))][: self.size["prefix_chars"]]
        stop = p[:-1] + chr(ord(p[-1]) + 1)
        rows = scan_hfiles(
            self.spark, self.table, start_row=p.encode(), stop_row=stop.encode()
        ).collect()
        return kind, (p, rows)

    def check(self, kind: str, result) -> bool:
        return getattr(self, f"_check_{kind}")(result)

    def _check_scan(self, n: int) -> bool:
        return n == self.n_cells or self.fail(f"full scan returned {n} of {self.n_cells} cells")

    def _check_get(self, result) -> bool:
        present, absent, rows = result
        got: dict[str, list] = {}
        for r in rows:
            got.setdefault(r.rowkey, []).append((r.qualifier, r.value))
        ok = True
        for k in absent:
            if k in got:
                ok = self.fail(f"get returned cells for absent key {k[:16]}…")
        for k in present:
            if sorted(got.get(k, [])) != self.inp["cells"][k]:
                ok = self.fail(f"get of {k[:16]}… differs from the input")
        self.n_requested += len(present) + len(absent)
        self.n_hits += sum(k in got for k in present + absent)
        return ok

    def _check_range(self, result) -> bool:
        p, rows = result
        want = sum(len(v) for k, v in self.inp["cells"].items() if k.startswith(p))
        n_in = sum(r.rowkey.startswith(p) for r in rows)
        return (n_in == want == len(rows)) or self.fail(
            f"range scan {p!r} returned {len(rows)} cells, expected {want}"
        )

    def final_check(self) -> bool:
        return self.probe_ok

    def units(self, kind: str, result) -> int:
        return result if kind == "scan" else len(result[-1])

    def e2e(self, samples) -> dict:
        return {
            "warm_per_s": _rate(samples),
            "op_p50_ms": 1000 * _median([s for k, s, _ in samples if k == "get"]),
        }

    def layers(self, tracer) -> dict:
        from hbase_bulkload_spark.operators.hfile_load import plan_block_splits
        from hbase_bulkload_spark.sources import hfile as hf

        out: dict = {}
        files = _hfiles(self.table)
        t = time.perf_counter()
        for p in files:
            hf.file_key_range(p)
        out["multi_get.routing_s"] = time.perf_counter() - t
        plans = tracer.find("operators.hfile_load.plan_block_splits")
        full = [s for s in plans if tracer.ancestor(s, "op").get("kind") == "scan"]
        ranges = [s for s in plans if tracer.ancestor(s, "op").get("kind") == "range"]
        out["scan.plan_s"] = _median([s["end"] - s["start"] for s in full])
        out["scan.splits"] = full[0]["n_out"] if full else len(plan_block_splits(self.table))
        out["range_scan.blocks_read_per_request"] = _median(
            [sum(len(x[3]) for x in s["out"] or []) for s in ranges]
        )
        out["multi_get.hit_ratio"] = self.n_hits / max(self.n_requested, 1)
        out["hfile.decode_MB_per_s"] = _decode_probe(files[0])
        out["hfile.files"] = len(files)
        out["hfile.bytes"] = _dir_bytes(self.table)
        nd = NearDup(self.spark, os.path.join(self.work, "near_dup"), self.seed)
        with tracer.request("near_dup"):
            out.update(nd.probe(tracer))
        self.probe_inputs["near_dup"] = nd.inputs()
        self.probe_ok = not nd.errors or self.fail("; ".join(nd.errors))
        return out


def _write_region_files(cells: dict[str, list], out_dir: str) -> list[str]:
    """One sorted HFile per hex-nibble region, written in-driver with the
    package's ``HFileWriter`` (the table a bulk load leaves behind)."""
    import pyarrow as pa

    from hbase_bulkload_spark.sources import hfile as hf

    os.makedirs(out_dir, exist_ok=True)
    by_region: dict[str, list] = {}
    for rk in sorted(cells):
        for q, v in cells[rk]:
            by_region.setdefault(rk[0], []).append((rk, q, v))
    paths = []
    for region, rows in sorted(by_region.items()):
        path = os.path.join(out_dir, f"part-{region}.hfile")
        w = hf.HFileWriter(path, "snappy")
        w.add_many_arrow(
            pa.array([r[0] for r in rows]), pa.array(["c"] * len(rows)),
            pa.array([r[1] for r in rows]), 0, pa.array([r[2] for r in rows]),
        )
        w.close()
        paths.append(path)
    return paths


def _decode_probe(path: str, reps: int = 3) -> float:
    """In-driver ``decode_cells_arrow`` over one file's decompressed data
    blocks: plain MB decoded per second."""
    from hbase_bulkload_spark.sources import hfile as hf

    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        entries = hf.read_data_index(f, t)
        # the block reader is the same one the scan tasks use
        plain = b"".join(
            hf._read_block(f, off, t.compression, hf.DATA_MAGIC) for off, _, _ in entries
        )
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        hf.decode_cells_arrow(plain)
        times.append(time.perf_counter() - t0)
    return len(plain) / 1e6 / _median(times)


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

class NearDup(Workload):
    """MinHash LSH pairs verified at a Jaccard threshold, then connected
    components to final cluster labels. Not a workload of its own (a third
    workload does not fit the benchmark's time budget): the traced run of
    ``table_read`` measures it through :meth:`probe`."""

    name = "near_dup"

    def prepare(self) -> None:
        self.inp = gen.corpus(
            os.path.join(self.work, "in"), self.seed, self.size["docs"],
            self.size["threshold"],
        )
        self.pairs = None
        self.expected_labels = None

    def inputs(self) -> dict:
        i = self.inp
        return {
            "docs": i["n_docs"], "threshold": self.size["threshold"],
            "planted_pairs": len(i["planted_pairs"]),
            "planted_cluster_sizes": {str(k): v for k, v in sorted(i["cluster_sizes"].items())},
        }

    def docs(self):
        return self.spark.read.parquet(self.inp["path"])

    def labels(self):
        from hbase_bulkload_spark.operators.dedup import connected_components, minhash_lsh_pairs

        docs = self.docs()
        pairs = minhash_lsh_pairs(docs, threshold=self.size["threshold"])
        return connected_components(pairs, docs.select("doc_id")).collect()

    def request(self, i: int):
        return "dedup", self.labels()

    def check(self, kind: str, labels) -> bool:
        if self.pairs is None:
            self._check_pairs()
        got = {r.doc_id: r.comp_id for r in labels}
        return got == self.expected_labels or self.fail(
            "component labels differ from the pairs' components"
        )

    def _check_pairs(self) -> None:
        """Untimed: collect the verified pairs once, recompute each pair's
        Jaccard, and derive the expected component labels by union-find."""
        from hbase_bulkload_spark.operators.dedup import minhash_lsh_pairs

        t = self.size["threshold"]
        texts = self.inp["texts"]
        rows = minhash_lsh_pairs(self.docs(), threshold=t).collect()
        self.pairs = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in rows}
        for a, b in self.pairs:
            j = gen.jaccard(gen.shingles(texts[a]), gen.shingles(texts[b]))
            if j < t - 1e-6:
                self.fail(f"pair ({a}, {b}) has Jaccard {j:.3f} < {t}")
        parent = list(range(len(texts)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # label = smallest id in the component
        self.expected_labels = {d: find(d) for d in range(len(texts))}

    def probe(self, tracer, n_warm: int = 2) -> dict:
        """First and warm dedup requests (each checked), then the layer
        breakdown."""
        self.prepare()
        times = []
        for i in range(1 + n_warm):
            dt, (kind, labels) = _timed(self.request, i)
            self.check(kind, labels)
            times.append(dt)
        planted = self.inp["planted_pairs"]
        out = {
            "dedup.cold_s": times[0],
            "dedup.docs_per_s": self.inp["n_docs"] / _median(times[1:]),
            "dedup.pair_recall": len(planted & self.pairs) / max(len(planted), 1),
        }
        out.update(self.layers(tracer))
        return out

    def layers(self, tracer) -> dict:
        from hbase_bulkload_spark.operators.dedup import (
            connected_components,
            lsh_banding_params,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        t = self.size["threshold"]
        k, bands = lsh_banding_params(t)
        out: dict = {}
        with tracer.request("staged"):
            sig_t, pairs_t = [], []
            for _ in range(2):
                sig_t.append(_timed(_noop, minhash_signatures(self.docs(), k=k))[0])
                pairs_t.append(
                    _timed(lambda: _noop(minhash_lsh_pairs(self.docs(), threshold=t)))[0]
                )
            sigs = minhash_signatures(self.docs(), k=k).collect()
        # components alone: over the already-verified pairs
        pairs = self.spark.createDataFrame(sorted(self.pairs), "doc_a long, doc_b long")
        w = spans.EngineWindow(self.spark)
        out["dedup.components_s"] = _timed(
            lambda: connected_components(pairs, self.docs().select("doc_id")).collect()
        )[0]
        out["dedup.components_jobs"] = w.counters()["jobs"]
        out["dedup.signatures_s"] = min(sig_t)
        out["dedup.pairs_s"] = min(pairs_t) - min(sig_t)
        # candidates: distinct doc pairs sharing a whole signature band
        rows = k // bands
        buckets: dict[tuple, list[int]] = {}
        for r in sigs:
            v = [r[f"mh{i}"] for i in range(k)]
            for b in range(bands):
                buckets.setdefault((b, *v[b * rows : (b + 1) * rows]), []).append(r.doc_id)
        cand = set()
        for ds in buckets.values():
            ds.sort()
            for i, a in enumerate(ds):
                for b in ds[i + 1 :]:
                    cand.add((a, b))
        out["dedup.candidates"] = len(cand)
        out["dedup.candidate_yield"] = len(self.pairs or ()) / max(len(cand), 1)
        return out


# ---------------------------------------------------------------------------
# Avro → parquet ingest (traced runs of bulkload_csv_hfile only)
# ---------------------------------------------------------------------------

class AvroParquet(Workload):
    """Deflate Avro containers → cells → region-aligned sorted parquet,
    through ``cli.ingest(fmt="avro", sink="parquet")``. Not a workload of
    its own (a fourth workload does not fit the benchmark's time budget):
    the traced run of ``bulkload_csv_hfile`` measures its layers."""

    name = "avro_parquet"

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.inp = gen.avro_records(os.path.join(work, "in"), seed, self.size["rows"])
        self.out = os.path.join(work, "out")

    def inputs(self) -> dict:
        i = self.inp
        return {
            "rows": i["n_input"], "files": i["files"], "avro_bytes": i["bytes"],
            "largest_file_bytes": i["largest_file_bytes"], "cells": i["n_cells"],
        }

    def ingest(self) -> None:
        from hbase_bulkload_spark import cli

        cli.ingest(self.spark, self.inp["path"], self.out, fmt="avro", sink="parquet")

    def check(self) -> bool:
        """Every bucket file is sorted by (rowkey, qualifier), holds only its
        bucket's rowkeys, all derived from input rows; cells add up."""
        import pyarrow.parquet as pq

        n = 0
        for path in glob.glob(os.path.join(self.out, "bucket=*", "*.parquet")):
            bucket = path.split("bucket=")[1][0]
            t = pq.read_table(path, columns=["rowkey", "qualifier"])
            rk, q = t.column("rowkey").to_pylist(), t.column("qualifier").to_pylist()
            n += len(rk)
            if list(zip(rk, q)) != sorted(zip(rk, q)):
                return self.fail(f"{path}: not sorted by (rowkey, qualifier)")
            if any(k[0] != bucket for k in rk):
                return self.fail(f"{path}: rowkey outside bucket {bucket}")
            if not set(rk) <= self.inp["rowkeys"]:
                return self.fail(f"{path}: rowkey not derived from any input row")
        return n == self.inp["n_cells"] or self.fail(
            f"parquet holds {n} cells, expected {self.inp['n_cells']}"
        )

    def layers(self, tracer) -> dict:
        from hbase_bulkload_spark import cli
        from hbase_bulkload_spark.operators import bulkload

        spark, path = self.spark, self.inp["path"]
        cols = gen.COLS
        scan_t, aligned_t, ingest_t = [], [], []
        for _ in range(2):
            ingest_t.append(_timed(self.ingest)[0])
            scan_t.append(_timed(_noop, cli.read_avro(spark, path))[0])
            kv = bulkload.bulkload_kv(cli.read_avro(spark, path), cols[: gen.KEY_COLS], cols)
            aligned_t.append(_timed(_noop, bulkload.region_align(kv))[0])
        return {
            "avro.rows_per_s": self.inp["n_input"] / min(ingest_t),
            "avro.scan_s": min(scan_t),
            "avro.splits": cli.read_avro(spark, path).rdd.getNumPartitions(),
            "parquet_sink.s": min(ingest_t) - min(aligned_t),
            "avro.decode_MB_per_s": _avro_decode_probe(
                sorted(glob.glob(os.path.join(path, "*.avro")))[0]
            ),
        }


def _avro_decode_probe(path: str, reps: int = 2) -> float:
    """In-driver ``iter_ocf_range`` over one whole container: file MB
    decoded per second."""
    from hbase_bulkload_spark.sources import avro_ocf

    schema, sync, data_start, size, codec = avro_ocf.header_info(path)
    types = [f["type"] for f in schema["fields"]]
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        for _row in avro_ocf.iter_ocf_range(path, 0, size, data_start, sync, types, codec):
            pass
        times.append(time.perf_counter() - t)
    return size / 1e6 / _median(times)


WORKLOADS = {w.name: w for w in (BulkloadCsvHfile, TableRead)}
