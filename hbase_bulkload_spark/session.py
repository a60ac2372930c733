"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
setting here is chosen to also hold on a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast conversion).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a tuning
  burden.
- Arrow enabled so Pandas-UDF hops and driver collects are columnar batches.
- Session timezone pinned to UTC so timestamp semantics are stable across
  engines (the DuckDB oracle is timezone-naive).
- PySpark's DataFrame debugging off: with it on, every wrapped
  ``Column``/``F.*`` call captures its Python call site and sends it to
  the JVM in extra py4j round trips — a 30k-row CSV → HFile CLI ingest
  made ~1,880 py4j calls with it and ~670 without. The only loss is the
  Python call site in a DataFrame error's context.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Spark 4.1 refuses a ``spark.python.unix.domain.socket.dir`` longer than
#: 61 characters. AF_UNIX addresses hold 107 bytes and Spark names every
#: worker and accumulator socket ``<dir>/.<36-char uuid>.sock``, 43 bytes
#: after the directory, so the socket itself would allow 64.
_SOCKET_DIR_MAX_BYTES = 61


def _unix_socket_conf() -> dict[str, str]:
    """Unix-domain sockets between the JVM and its Python workers, in a
    fresh 0700 directory this process removes at exit; ``{}`` (the stock
    loopback TCP) when no directory short enough can be made.

    Why: over loopback TCP an empty Arrow task waits ~40 ms in
    ``ipc.open_stream`` for the JVM's first message — Linux's delayed-ACK
    floor, since no Spark 4.1 class under ``org.apache.spark.api.python``
    sets ``TCP_NODELAY``. Unix-domain sockets have no delayed ACK. An
    empty 16-task ``mapInArrow`` at ``local[2]`` went from ~540 to
    ~290 ms with this alone.

    The directory is not left to Spark's default, ``java.io.tmpdir``:
    with that pointed at a deep work directory (66 bytes is enough) the
    session cannot even bind its accumulator socket ("AF_UNIX path too
    long"). ``tempfile.gettempdir()`` (``TMPDIR``) is tried first, then
    ``/tmp``."""
    for parent in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
        try:
            path = tempfile.mkdtemp(prefix="spark-uds-", dir=parent)
        except OSError:
            continue
        if len(os.fsencode(path)) > _SOCKET_DIR_MAX_BYTES:
            os.rmdir(path)
            continue
        atexit.register(shutil.rmtree, path, True)
        return {
            "spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": path,
        }
    return {}


def _daemon_preload_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` → the preload daemon
    (:mod:`hbase_bulkload_spark.daemon_preload`), whose jobs are:

    - worker forks inherit numpy/pandas/pyarrow copy-on-write instead of
      re-importing them on every cold start (~0.5-1 s per worker, per
      fork storm);
    - ``zipimporter.invalidate_caches`` re-reads an archive only when
      its ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp of
      that importer's last read. Every task's ``worker.main`` calls
      ``importlib.invalidate_caches()``, which otherwise re-parses
      pyspark.zip's central directory once per importer on it (16
      importers, ~26,700 entries): ~140 ms per task on an idle 4-vCPU
      VM and more under load, against 0.1 ms gated. At ``local[2]`` an
      empty 16-task mapInArrow went from ~2.1 s to ~0.65 s;
    - the daemon's imported heap is frozen before it forks, so the
      ``gc.collect()`` a reused worker runs after every task skips it.

    Plus the worker transport (:func:`_unix_socket_conf`): Unix-domain
    sockets instead of loopback TCP, whose 40 ms delayed-ACK stall every
    Arrow task paid once, in a directory of at most 61 bytes (Spark's
    limit; its socket names fill all but 64 of AF_UNIX's 107); stock TCP
    when no such directory can be made.

    Two preconditions, both probed here so a broken environment
    degrades to the stock daemon instead of killing every Python task:
    the scientific stack must import driver-side, and the repo root
    must be exportable on PYTHONPATH (set into os.environ BEFORE the
    JVM launches — the daemon subprocess inherits the JVM's env, which
    inherits ours; a bare ``python -m`` in an arbitrary cwd would not
    find the package otherwise)."""
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except Exception:  # pragma: no cover — stack is baked into this env
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            root + (os.pathsep + existing if existing else "")
        )
    return {
        "spark.python.daemon.module": "hbase_bulkload_spark.daemon_preload",
        **_unix_socket_conf(),
    }


def oracle_safe(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable confs that cross-engine correctness relies on.

    Called defensively at the top of every registered query so results are
    stable even when the caller (the verify driver) built its own session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def get_spark(
    app_name: str = "hbase-bulkload-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    daemon_conf = _daemon_preload_conf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**daemon_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return oracle_safe(builder.getOrCreate())
