"""The worker daemon (:mod:`hbase_bulkload_spark.daemon_preload`): its
stat-gated ``zipimporter.invalidate_caches`` and frozen heap, and the
Unix-domain worker sockets ``session.get_spark`` sets up for it."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import tempfile
import uuid
import zipfile
import zipimport

from hbase_bulkload_spark import daemon_preload, session


def _write_zip(path: str, modules: dict[str, str]) -> None:
    """Write ``modules`` to a new file and move it over ``path``, so the
    archive gets a new inode, as a redeploy would."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)), src)
    os.replace(tmp, path)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zip_stamp_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reference = zipimport.zipimporter(path)  # left on the stock method

    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or stock_read(p)
    )
    monkeypatch.setitem(sys.path_importer_cache, path, importer)
    # registers the stock method for restore at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    daemon_preload.install_zip_stamp_gate()

    # unchanged archive: no re-read, however often invalidated
    for _ in range(5):
        importer.invalidate_caches()
    assert reads == []

    # rewritten with a new size and inode: one re-read, new module visible
    _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [path]
    assert _load(importer, "mod_b").Y == 2

    # same size and mtime, new inode only: still re-read
    st = os.stat(path)
    _write_zip(path, {"mod_a": "X = 3\n", "mod_b": "Y = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path, path]
    assert _load(importer, "mod_a").X == 3

    # deleted archive: the stock behaviour, an empty directory
    os.remove(path)
    daemon_preload._stock_invalidate_caches(reference)
    importer.invalidate_caches()
    assert len(reads) == 4  # one failed read each
    assert importer._files == reference._files == {}
    assert path not in zipimport._zip_directory_cache
    assert importer.find_spec("mod_a") is None


def test_zip_stamp_gate_reaches_forked_workers(spark):
    """Each task reports its zip re-reads, whether it inherited a frozen
    heap and whether it talks to the JVM over a Unix-domain socket."""

    def count_reads(_):
        import gc
        import importlib
        import os
        import zipimport

        stock_read = zipimport._read_directory
        n = [0]

        def counting(p):
            n[0] += 1
            return stock_read(p)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        yield (
            n[0],
            gc.get_freeze_count() > 0,
            # the JVM writes "True"; pyspark.daemon lower-cases it too
            os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower() == "true",
        )

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(count_reads).collect()
    assert got == [(0, True, True)] * 4


def test_unix_socket_dir_fits_or_falls_back_to_tcp(tmp_path, monkeypatch):
    """A TMPDIR too deep for Spark's socket directory (past 100 bytes, or
    where mkdtemp's 19 more bytes land one past Spark 4.1's 61-character
    limit) is never handed to Spark: the conf names a shorter directory,
    or keeps TCP and has no Unix-socket keys."""
    deep = tmp_path.joinpath(*["d" * 20] * 6)
    deep.mkdir(parents=True)
    assert len(os.fsencode(str(deep))) > 100
    base = tempfile.mkdtemp(dir="/tmp")
    near = os.path.join(base, "n" * (62 - 19 - len(base) - 1))
    os.mkdir(near)
    try:
        for tmpdir in (str(deep), near):
            monkeypatch.setenv("TMPDIR", tmpdir)
            monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
            assert tempfile.gettempdir() == tmpdir

            conf = session._daemon_preload_conf()
            assert conf["spark.python.daemon.module"] == "hbase_bulkload_spark.daemon_preload"
            if "spark.python.unix.domain.socket.dir" in conf:  # /tmp is short
                d = conf["spark.python.unix.domain.socket.dir"]
                sock = os.path.join(d, f".{uuid.uuid4()}.sock")  # Spark's name
                assert conf["spark.python.unix.domain.socket.enabled"] == "true"
                assert os.path.isdir(d) and len(d) <= 61
                assert len(os.fsencode(sock)) <= 107
            else:
                assert not any(k.startswith("spark.python.unix.domain") for k in conf)
            assert os.listdir(tmpdir) == []  # the too-long directory was removed
    finally:
        shutil.rmtree(base)

    # no directory can be made anywhere: the stock TCP transport
    def refuse(*a, **k):
        raise OSError("read-only")

    monkeypatch.setattr(tempfile, "mkdtemp", refuse)
    conf = session._daemon_preload_conf()
    assert conf == {"spark.python.daemon.module": "hbase_bulkload_spark.daemon_preload"}
