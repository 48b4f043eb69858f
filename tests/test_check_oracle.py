"""``tools/check_oracle.py`` refuses a query name that matches no
registered query, before it starts Spark, instead of checking nothing
and exiting 0. No Spark."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_unknown_query_name_fails(tmp_path):
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"), "no_such_query"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0, out.stdout + out.stderr
    assert "FAIL  no_such_query: no such query" in out.stdout.splitlines()
