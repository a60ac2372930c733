"""The derived-fixture cache (sources/records.py) belongs to the checkout
it runs from."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_fixture_root_follows_checkout(tmp_path):
    """Unset ``SPARK_GRAFT_FIXTURE_DIR``: a copy of the package caches its
    fixtures under its own checkout, never under another copy's."""
    copy = tmp_path.resolve()
    shutil.copytree(
        os.path.join(ROOT, "hbase_bulkload_spark"), copy / "hbase_bulkload_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_FIXTURE_DIR"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(copy), os.environ.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c",
         "from hbase_bulkload_spark.sources import records as r;"
         "print(r.__file__); print(r.FIXTURE_ROOT)"],
        cwd=copy, env=env, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out[0].startswith(str(copy) + os.sep)
    assert out[1] == str(copy / ".fixtures")
