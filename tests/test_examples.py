"""Examples must stay runnable — they are the documented entry points
and rot silently otherwise. Each runs in a subprocess (own
SparkSession, so ``spark.stop()`` inside an example can't kill the
suite's shared session); the four exercised ones launch CONCURRENTLY
and are asserted individually — each pays a ~20 s JVM+Spark startup,
so running them back to back was ~80 s of suite wall for the same
four exit codes (r12)."""

from __future__ import annotations

import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

EXAMPLES = Path(__file__).resolve().parent.parent / "examples"

_CHECKED = [
    "basic_usage.py",
    "validation_modes.py",
    "cross_field_validators.py",
    "nested_fields.py",
]


@pytest.fixture(scope="module")
def example_results():
    # Output goes to temporary files, not pipes: a pipe nobody drains
    # while another example is awaited fills up and stalls its writer.
    runs = {}
    for name in _CHECKED:
        out, err = tempfile.TemporaryFile("w+"), tempfile.TemporaryFile("w+")
        proc = subprocess.Popen(
            [sys.executable, str(EXAMPLES / name)], stdout=out, stderr=err, text=True
        )
        runs[name] = (proc, out, err)
    results = {}
    for name, (proc, out, err) in runs.items():
        note = ""
        try:
            rc = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc, note = -1, "\nTIMEOUT"
        with out, err:
            out.seek(0)
            err.seek(0)
            results[name] = (rc, out.read(), err.read() + note)
    return results


@pytest.mark.parametrize("name", _CHECKED)
def test_example_runs_clean(name, example_results):
    rc, stdout, stderr = example_results[name]
    assert rc == 0, (
        f"{name} exited {rc}\n"
        f"stdout tail: {stdout[-1500:]}\n"
        f"stderr tail: {stderr[-1500:]}"
    )
