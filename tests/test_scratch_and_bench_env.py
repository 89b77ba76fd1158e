"""Process-level hygiene outside Spark: the streaming faces' scratch
dirs are removed when the interpreter exits, and bench.py rejects a
SPARK_GRAFT_SF_DIR without a documents table before it starts a
session."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stream_scratch_dirs_are_removed_at_exit(tmp_path):
    """No Spark session: the dirs exist while the process runs and are
    gone after it exits."""
    code = (
        "import os\n"
        "from neural_search_spark import registry as R\n"
        "dirs = [R._stream_scratch(k) for k in ('app_x', 'dedupidx_x')]\n"
        "open(os.path.join(dirs[0], 'f'), 'w').write('x')\n"
        "assert all(map(os.path.isdir, dirs))\n"
        "print('\\n'.join(dirs))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert len(out) == 2 and all(d.startswith(str(tmp_path)) for d in out)
    assert not any(os.path.exists(d) for d in out)


def test_bench_rejects_a_corpus_dir_without_documents(monkeypatch, tmp_path):
    sys.path.insert(0, REPO)
    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    with pytest.raises(ValueError, match="SPARK_GRAFT_SF_DIR"):
        bench.sf_dir_from_env()
    (tmp_path / "documents.parquet").mkdir()
    assert bench.sf_dir_from_env() == str(tmp_path)
