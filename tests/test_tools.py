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
    m = re.search(r" jobs=(\d+) .* driver-gaps=(\d+\.\d+)s py4j=(\d+) ", line)
    assert m, proc.stdout[-3000:]
    assert int(m.group(1)) >= 1
    assert int(m.group(3)) >= 1


def test_bench_records_which_sentinel_arm_fired():
    # either arm condemns a run alone; an unread meter cannot condemn
    from bench import fired_arms

    def arms(ext, io):
        return fired_arms(ext, io, ext_thresh=1.5, io_thresh=0.3)

    assert arms(0.2, 0.1) is None
    assert arms(None, None) is None
    assert arms(0.2, 0.9) == "io"
    assert arms(None, 0.9) == "io"
    assert arms(2.0, 0.1) == "cpu"
    assert arms(2.0, None) == "cpu"
    assert arms(2.0, 0.9) == "cpu+io"
