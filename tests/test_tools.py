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
