"""North-rule deployment-path smoke: the engine ships via
``spark-submit --py-files dist/kgx_spark.zip scripts/run_pipeline.py``
(BASELINE.json north_rule; reference analogue: the kgx CLI entrypoint).

The entry script is copied OUTSIDE the repo and PYTHONPATH is scrubbed, so
``import kgx_spark`` can only resolve through the ``--py-files`` zip — the
exact mechanism a multi-executor cluster uses to ship the package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent")
def test_spark_submit_pyfiles_deployment(tmp_path):
    # package exactly as scripts/make_pyfiles.sh does
    zip_path = tmp_path / "kgx_spark.zip"
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", str(zip_path), "kgx_spark"],
        cwd=REPO,
        check=True,
    )

    # the entry script leaves the repo: its parent-dir sys.path insert now
    # points at an empty tmp dir, so only the zip can satisfy the imports
    entry = tmp_path / "run_pipeline.py"
    shutil.copy(REPO / "scripts" / "run_pipeline.py", entry)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm")
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--driver-memory", "8g",
            "--py-files", str(zip_path),
            str(entry),
            "--sf-dir", SF_DIR,
            "--workdir", str(tmp_path / "wd"),
            "--no-link",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=tmp_path,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["edges"] > 0
    # the kill-resume contract held under spark-submit too
    record = tmp_path / "wd" / "edges.parquet" / "_commit.json"
    assert json.loads(record.read_text())["rows"] > 0
