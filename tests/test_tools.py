"""Every script in tools/ answers --help without starting Spark."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


@pytest.mark.parametrize("tool", TOOLS, ids=os.path.basename)
def test_tool_help(tool):
    out = subprocess.run(
        [sys.executable, tool, "--help"], cwd=REPO, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert "usage:" in out.stdout
    # a started session would log Spark's banner to stderr
    assert "Spark" not in out.stderr, out.stderr


def test_prof_help_names_cpu_column():
    """prof.py's row mode prints each timed run's process-tree CPU next
    to its JIT milliseconds, and its help says so."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "prof.py"), "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "process-tree CPU" in out.stdout
