"""``pyspark.daemon`` wrapper that warms the scientific stack, gates
zip-directory re-reads and freezes its heap before serving worker forks.

It has three jobs, all paid once in the daemon instead of once per
forked worker or once per task.

**Warm imports.** The stock daemon imports only pyspark; numpy/pandas/
pyarrow are first imported inside each forked worker when a Pandas UDF
deserializes — ~0.5-1 s of import work per fresh worker, paid on every
worker cold-start. Importing them HERE, in the daemon, once, puts the
modules in the daemon's image, so every forked worker inherits them via
copy-on-write pages: a fresh worker is task-ready in milliseconds.

This matters twice:

- **bench protocol**: the harness drains the idle-worker pool between
  timed queries (``bench._recycle_python_workers``, the round-8 fix for
  cross-query worker-pool memory-reclaim noise) — without preload, each
  Python-stage query would pay 32 re-imports inside its timed window,
  trading one measurement artifact for another;
- **production**: executors that scale worker counts up and down (or
  kill workers via ``spark.python.worker.killOnIdleTimeout``) get
  millisecond worker cold-starts instead of the import storm.

**Stat-gated zip invalidation.** ``pyspark.worker.main`` calls
``importlib.invalidate_caches()`` at the start of every task
(``setup_spark_files``). On Python 3.11 that makes every
``zipimporter`` re-parse its archive's central directory; the daemon
holds 16 importers on ``pyspark.zip`` (one per package prefix), so each
task re-reads about 26,700 entries: about 140 ms per task on an idle
4-vCPU VM and more under load, even for an empty task body (0.1 ms with
the gate). :func:`install_zip_stamp_gate` replaces
``zipimporter.invalidate_caches`` so that an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size, st_ino)``
differs from the stamp taken when that importer last read it. Every
importer already open when the daemon starts is stamped; forked workers
inherit both the patched method and the stamps. An importer without a
stamp (e.g. one for an ``addPyFile`` zip) re-reads as before, then
carries a stamp; a changed archive is re-read; a missing archive gets
the stock behaviour (an empty directory).

**Frozen heap.** A reused worker runs ``gc.collect()`` after every task
(``pyspark.daemon.manager``). Unfrozen, that full collection walks every
object the daemon imported, numpy/pandas/pyarrow included: 26-34 ms per
task, averaged over ~770 tasks on a 4-vCPU VM. After its imports and the
zip gate the daemon runs ``gc.collect(); gc.freeze()``, the pre-fork
recipe in the :mod:`gc` docs: the survivors move to the permanent
generation, which forked workers inherit and the collector never walks,
so a task's collection covers only what that task allocated. Since the
collector no longer writes to those objects' headers, it should also copy
fewer of the daemon's pages into each worker; that is not measured.

Wired in by ``session.get_spark`` via ``spark.python.daemon.module``
(the module must be importable by the worker-side Python — get_spark
exports the repo root on PYTHONPATH before the JVM launches). Module
availability is probed driver-side first; if the stack is absent the
stock daemon is kept, so this never turns an optional dependency into
a hard one.
"""

import gc
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def gated_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read when the
    archive is unchanged since this importer last read it.

    The stamp is taken BEFORE the read, so an archive rewritten during
    the read leaves a stale stamp and is re-read next time — never the
    reverse."""
    try:
        stamp = _archive_stamp(self.archive)
    except OSError:  # missing archive: the stock re-read, every time
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stock_invalidate_caches(self)
        self._archive_stamp = stamp


def install_zip_stamp_gate() -> None:
    """Patch ``zipimporter.invalidate_caches`` with the gated version and
    stamp every zipimporter in ``sys.path_importer_cache``."""
    zipimport.zipimporter.invalidate_caches = gated_invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer._archive_stamp = _archive_stamp(importer.archive)
            except OSError:
                pass


if __name__ == "__main__":
    # fork-inherited warm imports — order cheap-to-heavy so a partial
    # failure (unlikely: get_spark probed these) leaves the most useful
    # prefix warm
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    from pyspark.daemon import manager

    # after every import, so the importers they opened get stamps
    install_zip_stamp_gate()
    # last before serving forks: everything allocated so far is frozen
    gc.collect()
    gc.freeze()
    manager()
