"""session.get_spark checks SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM
before it builds a session: a bad value fails with a ValueError naming
the variable, not later inside Spark or the JVM launcher. Only invalid
values reach get_spark here, so the shared test session is untouched;
the worker import path is checked in a child process."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from neural_search_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("cpus", ["0", "-2", "four", "2.5", ""])
def test_bad_cpu_count_is_rejected(monkeypatch, cpus):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("env-check")


@pytest.mark.parametrize("mem", ["8", "2gb", "lots", "100m", "-1g", ""])
def test_bad_driver_memory_is_rejected(monkeypatch, mem):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.get_spark("env-check")


def test_valid_settings_pass_through(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512M")
    assert session._settings() == (6, "512M")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session._settings() == (32, "8g")


_WORKER_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from neural_search_spark.operators import dedup as DD
from neural_search_spark.session import get_spark

spark = get_spark("worker-path")
docs = spark.createDataFrame(
    [(1, "one two three four"), (2, "one two three five")], "doc_id long, text string"
)
print(DD.minhash_signatures(docs).count())
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A script that puts the repo on `sys.path` and runs from another
    directory, without PYTHONPATH: its Python workers (the MinHash Arrow
    kernel) still import `neural_search_spark`."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, ROOT],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "2"
