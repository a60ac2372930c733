"""Workload benchmark for hbase_bulkload_spark: one command per run.

    python3 perfbench/run.py --workload bulkload_csv_hfile --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (removed at exit); the program sees only those files.
The session is pinned to ``local[<cores>]`` with a driver heap sized to the
host, passed through ``get_spark(cpus=..., extra_conf=...)``.

``--trace 0`` times the workload untraced and prints the end-to-end
metrics; ``--trace 1`` also wraps the package's public calls in spans,
runs staged materializations and in-driver codec probes, reads Spark's
status store, and prints the per-layer metrics. Metric names, units and
the workload list come from ``BENCHMARK.json``. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
line before it describes the run (session settings, input properties,
the cold request's time, per-request times). A traced run also
writes its spans to ``.perfbench_out/trace-<workload>-<seed>.json``.
"""

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hbase_bulkload_spark"
#: untimed warm-up after the cold request, rounded up to whole request
#: cycles: JIT compilation keeps making requests faster for a few requests
WARMUP_S = 4.0


def session_conf(work: str) -> tuple[int, dict[str, str]]:
    """``local[cores]`` and a driver heap that fits this host: a quarter
    of physical memory, between 1 and 4 GiB.

    ``cores`` is half the CPUs this process may run on. Every Spark task
    slot feeds a Python worker process, so ``local[nproc]`` keeps about
    twice as many busy processes as CPUs; on a 4-vCPU shared VM,
    ``local[2]`` served full scans and multi-gets as fast as ``local[4]``
    with about half the run-to-run spread (METRICS.md)."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap_gb = max(1, min(4, total_kb // (4 << 20)))
    return cores, {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def run(args, spec: dict, work: str) -> dict:
    import spans as tr
    from workloads import WORKLOADS

    cores, conf = session_conf(work)
    # set-up: fresh process, package import, JVM and session, one trivial
    # job, and the workload's inputs (for table_read, the table it reads)
    from hbase_bulkload_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    try:
        t_session = time.perf_counter()
        spark.range(1).count()
        t_ready = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        setup_s = time.perf_counter() - T_PROCESS
        layers = {
            "session.jvm_start_s": t_session - t,
            "session.first_job_s": t_ready - t_session,
        }
        tracer = tr.Tracer()
        attempted = failed = 0
        samples: list[tuple[str, float, int]] = []
        cycle = len(wl.CYCLE)

        def one(i: int, rid: str, window: bool = False):
            nonlocal attempted, failed
            attempted += 1
            w = tr.EngineWindow(spark) if window else None
            t0 = time.perf_counter()
            units = 0
            try:
                with tracer.request(rid), tracer.span("op") as rec:
                    kind, result = wl.request(i)
                    rec["kind"] = kind
                dt = time.perf_counter() - t0
                ok = wl.check(kind, result)
                units = wl.units(kind, result)
            except Exception:  # a failed request is counted, the loop goes on
                traceback.print_exc()
                kind, ok, dt = "error", False, time.perf_counter() - t0
            if not ok:
                failed += 1
            samples.append((kind, dt, units))
            return kind, dt, (w.counters() if w else None)

        def loop(i: int, seconds: float, rid: str) -> int:
            """Requests from ``i`` on, for ``seconds`` and then to the end
            of the cycle; returns the next request number."""
            t_end = time.perf_counter() + seconds
            while time.perf_counter() < t_end or i % cycle:
                one(i, f"{rid}-{i}")
                i += 1
            return i

        _, cold_s, _ = one(0, "cold")
        layers["session.cold_request_s"] = cold_s
        layers["host.calib_s"] = tr.host_calib_s() if args.trace else None
        i = loop(1, WARMUP_S, "warmup")
        n_unmeasured = len(samples)
        if not args.trace:
            loop(i, args.seconds, "warm")
        else:
            # overhead: plain and traced requests alternate, a cycle of each
            plain, traced, cpu_s, wall_s = [], [], 0.0, 0.0
            for k in range(max(cycle, 2)):
                plain.append(one(i, f"plain-{k}"))
                tracer.install()
                cpu0, w0 = tr.tree_cpu_s(), time.perf_counter()
                traced.append(one(i, f"traced-{k}", window=True))
                wall_s += time.perf_counter() - w0
                cpu_s += sum(v - cpu0.get(p, 0.0) for p, v in tr.tree_cpu_s().items())
                tracer.uninstall()
                i += 1
            tracer.install()
            layers.update(wl.layers(tracer))
            tracer.uninstall()
            layers.update(traced_layers(traced, plain))
            layers["proc.cpu_busy_share"] = cpu_s / (wall_s * len(os.sched_getaffinity(0)))
            layers["proc.peak_rss_mb"] = tr.tree_peak_rss_mb()

        warm = samples[n_unmeasured:]
        if not wl.final_check():
            failed += 1
        attempted += 1
    finally:
        stop(spark)
    e2e = {"setup_s": setup_s, **wl.e2e([s for s in warm if s[0] != "error"])}
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session": {"master": f"local[{cores}]", **conf},
        "inputs": wl.inputs(),
        "cold_s": cold_s,
        "warm_ms": {
            k: [round(1000 * s[1], 1) for s in warm if s[0] == k]
            for k in sorted({s[0] for s in warm})
        },
        "errors": wl.errors[:10],
    }
    if args.trace:
        info["e2e_traced"] = e2e
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "layers": layers, "spans": tracer.dump()}, f, indent=1)
        info["trace_file"] = os.path.relpath(path, ROOT)
    names = spec["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    return {
        "info": info,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in names
            },
        },
    }


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    Python workers are the JVM's children and exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def traced_layers(traced, plain) -> dict:
    """Engine counters per traced request, read latencies over all warm
    requests of the run, and the tracing overhead."""
    out = {}
    keys = ("jobs", "stages", "tasks", "gc_s", "python_bytes_in", "python_bytes_out")
    for k in keys:
        out[f"engine.{k}"] = statistics.mean(c[k] for _, _, c in traced)
    ex = [c for kind, _, c in traced if kind == "ingest"]
    for k in ("shuffle_write_bytes", "shuffle_records", "spill_bytes"):
        if ex:
            out[f"exchange.{k}"] = statistics.mean(c[k] for c in ex)
    gets = [c for kind, _, c in traced if kind == "get"]
    if gets:
        out["multi_get.jobs_per_request"] = statistics.mean(c["jobs"] for c in gets)
        lat = [dt for kind, dt, _ in plain + traced if kind == "get"]
        out["multi_get.p90_ms"] = 1000 * statistics.quantiles(lat, n=10, method="inclusive")[-1]
    ranges = [dt for kind, dt, _ in plain + traced if kind == "range"]
    if ranges:
        out["range_scan.p50_ms"] = 1000 * statistics.median(ranges)
    out["trace.overhead_s"] = (
        statistics.mean(dt for _, dt, _ in traced) - statistics.mean(dt for _, dt, _ in plain)
    )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {spec_path}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # keep every file the run writes inside the checkout: Python temp files
    # (ours, the gateway's, the workers') and Spark's scratch directories
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    try:
        out = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["info"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
