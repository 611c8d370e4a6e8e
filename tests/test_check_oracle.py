"""tools/check_oracle.py runs from any working directory: its Python
workers import the package through the pickled UDFs, so the repo must
reach them, not only the calling process's ``sys.path``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from gmall_flink_230422_spark.io import DEFAULT_SF_DIR

ROOT = Path(__file__).resolve().parent.parent
SF = str(Path(DEFAULT_SF_DIR).parent / "sf0.001")


def test_check_oracle_runs_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"), "x_multimodal_decode",
         "--sf", SF],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "1/1 passed" in out.stdout
