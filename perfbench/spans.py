"""Out-of-process-boundary tracing for the workload benchmark.

Nothing here edits the package. Spans are recorded by temporarily
replacing public functions *on their modules* with timing wrappers
(callers that look the function up through the module at call time see
the wrapper; the originals are restored on exit). Engine counters are
read from Spark's status store after the timed region, and process
counters from ``/proc``. Everything stays in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import re
import time

#: (module, attribute) pairs wrapped in a traced run, in data-flow order.
#: Each is a public call into one layer; the span name is the dotted path
#: relative to the package.
TRACED_CALLS = [
    ("cli", "read_csv"),
    ("cli", "read_avro"),
    ("cli", "ingest"),
    ("operators.bulkload", "composite_rowkey"),
    ("operators.bulkload", "unpivot_kv"),
    ("operators.bulkload", "bulkload_kv"),
    ("operators.bulkload", "region_align"),
    ("operators.bulkload", "write_bulkload"),
    ("operators.hfile_load", "bulkload_to_table"),
    ("operators.hfile_load", "write_region_hfiles"),
    ("operators.hfile_load", "do_bulk_load"),
    ("operators.hfile_load", "plan_block_splits"),
    ("operators.hfile_load", "scan_hfiles"),
    ("operators.hfile_load", "multi_get"),
    ("sources.hfile", "file_key_range"),
    ("sources.avro_ocf", "scan_splits"),
    ("operators.dedup", "minhash_signatures"),
    ("operators.dedup", "minhash_lsh_pairs"),
    ("operators.dedup", "connected_components"),
]
PACKAGE = "hbase_bulkload_spark"


class Tracer:
    """Span recorder. ``span`` opens a span whose parent is the innermost
    open one; ``request`` groups spans under one request id. ``install``
    wraps :data:`TRACED_CALLS` so every call made while installed records
    a span carrying its return value's size where that is cheap."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._request: str | None = None
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def request(self, rid: str):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def install(self) -> None:
        for mod_name, attr in TRACED_CALLS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(f"{mod_name}.{attr}", orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["n_out"] = len(out)
                    rec["out"] = out if len(out) <= 4096 else None
                return out

        return wrapper

    def total(self, name: str, request: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (in ``request``)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (request is None or s["request"] == request)
        )

    def find(self, name: str, request: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (request is None or s["request"] == request)
        ]

    def ancestor(self, span: dict, name: str) -> dict:
        """The nearest enclosing span called ``name`` ({} if none)."""
        by_id = {s["id"]: s for s in self.spans}
        while span is not None and span["name"] != name:
            span = by_id.get(span["parent"])
        return span or {}

    def dump(self) -> list[dict]:
        """Spans without the captured return values (for writing)."""
        return [{k: v for k, v in s.items() if k != "out"} for s in self.spans]


# ---------------------------------------------------------------------------
# Spark engine counters (status store, read after the timed region)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def _size_total(text: str) -> float:
    """Total bytes from a formatted SQL size metric (first value shown)."""
    m = _SIZE_RE.search(text or "")
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class EngineWindow:
    """Marks the jobs and SQL executions started after ``__init__`` and
    sums their stage and Python-boundary counters in :meth:`counters`."""

    def __init__(self, spark):
        self.spark = spark
        self.job0 = self._max_job()
        self.exec0 = self._max_exec()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _job_ids(self) -> list[int]:
        # every benchmark job runs outside any job group
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def _max_job(self) -> int:
        return max(self._job_ids(), default=-1)

    def _max_exec(self) -> int:
        ex = self._sql_store().executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def counters(self) -> dict:
        sc = self.spark.sparkContext
        store = self._store()
        jobs = [j for j in self._job_ids() if j > self.job0]
        n_jobs = len(jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(sc.statusTracker().getJobInfo(j).stageIds)
        gw = sc._gateway
        no_q = gw.new_array(gw.jvm.double, 0)
        c = {
            "jobs": n_jobs, "stages": 0, "tasks": 0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
        }
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, no_q)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += s.numCompleteTasks()
                c["gc_s"] += s.jvmGcTime() / 1000.0
                c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                c["shuffle_records"] += s.shuffleWriteRecords()
                c["spill_bytes"] += s.diskBytesSpilled()
        sent = received = 0.0
        sql = self._sql_store()
        ex = sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= self.exec0:
                continue
            values = sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = m.name()
                if name not in (
                    "data sent to Python workers",
                    "data returned from Python workers",
                ):
                    continue
                v = values.get(m.accumulatorId())
                b = _size_total(v.get()) if v.isDefined() else 0.0
                if name.startswith("data sent"):
                    sent += b
                else:
                    received += b
        c["python_bytes_in"] = int(sent)
        c["python_bytes_out"] = int(received)
        return c


# ---------------------------------------------------------------------------
# Process-tree counters (/proc) and a host calibration probe
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_cpu_s() -> dict[int, float]:
    """CPU seconds (user + system) per live process of the tree."""
    out = {}
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[p] = (int(fields[11]) + int(fields[12])) / _TICK
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def host_calib_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python CPU loop: a throttled or
    contended host shows up as a larger value."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t)
    return sorted(times)[len(times) // 2]
