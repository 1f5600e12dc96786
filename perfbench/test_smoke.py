"""The benchmark's own test: every workload, both modes, tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

run.py --smoke asserts that every end-to-end and per-layer metric is
printed with its unit and that every call's output check passes.
"""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_smoke_runs_every_workload_in_both_modes():
    r = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
                       capture_output=True, text=True, timeout=1200)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    assert r.stdout.count("smoke ok:") == 4, r.stdout[-3000:]
