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


def test_normalize_plan_makes_two_dumps_of_one_plan_equal():
    """dump_plans.normalize_plan replaces what differs between two dumps
    of the same plan (expression ids, exchange plan ids, lambda variable
    counters, RDD ids, temp-directory names) and nothing else, so dumps
    diff cleanly and prof.py stream leaves its committed plans as they
    are."""
    import tempfile

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from dump_plans import normalize_plan

    tmp = tempfile.gettempdir()

    def dump(e, p, lam, rdd, d):
        return (
            f"Output [2]: [doc_id#{e}L, text#{e + 1}]\n"
            f"Arguments: hashpartitioning(doc_id#{e}L, 4), ENSURE_REQUIREMENTS, [plan_id={p}]\n"
            f"lambdafunction(concat(lambda x_{lam}#{e + 2}, lambda y_{lam + 1}#{e + 3}))\n"
            f"Arguments: MapPartitionsRDD[{rdd}] at applySchemaToPythonRDD\n"
            f"Location: InMemoryFileIndex [file:{tmp}/{d}/cc/snap=2]\n"
            "Condition : ((doc_id % 3) = 2) AND isnotnull(x_1)\n"
        )

    a = normalize_plan(dump(11519, 37127, 272, 35, "prof_stream_ab12cd34"))
    b = normalize_plan(dump(0, 5, 9, 1, "prof_stream_zz99yy88"))
    assert a == b
    assert "doc_id#xL" in a and "[plan_id=x]" in a and "lambda x_x#x" in a
    assert "RDD[x]" in a and "file:<tmp>/cc/snap=2" in a
    # plan content is left alone: literals, partition counts, names
    assert "hashpartitioning(doc_id#xL, 4)" in a
    assert "((doc_id % 3) = 2) AND isnotnull(x_1)" in a
    assert normalize_plan(a) == a
