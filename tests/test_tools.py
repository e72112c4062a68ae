"""Smoke runs of the command-line tools under ``tools/``."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from tests.test_plans import SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.isdir(SF), reason="test data absent")
def test_profile_queries_reports_jobs_and_driver_gaps():
    proc = subprocess.run(
        [sys.executable, "tools/profile_queries.py", SF, "validate_lineitem"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("validate_lineitem:")),
        "",
    )
    m = re.search(r" jobs=(\d+) .* driver-gaps=(\d+\.\d+)s", line)
    assert m, proc.stdout[-3000:]
    assert int(m.group(1)) >= 1
