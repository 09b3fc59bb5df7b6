"""The benchmark's ``--trace 1`` wraps package functions at the module
attributes their callers look them up through (``perfbench/spans.py``).
Moving or renaming one of those attributes breaks traced runs, so the
install is checked here. It runs in a subprocess, which keeps the
wrappers out of this test session, and needs no Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trace_install_resolves_every_target():
    code = (
        "import spans, workloads\n"
        "spans.install(spans.Tracer(), workloads.modules())\n"
    )
    path = os.pathsep.join([ROOT, os.path.join(ROOT, "perfbench")])
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=dict(os.environ, PYTHONPATH=path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
