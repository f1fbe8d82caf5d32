"""Dump `.explain("formatted")` of registry rows at sf0.001 (plan shape,
not data volume, is what is recorded), so plan quality stays reviewable
without running Spark.

Usage:
  python tools/dump_plans.py name [name ...]
      replace each `## name` section of PLANS.md in place (or append it)
  python tools/dump_plans.py --dir DIR --tag TAG [name ...]
      write plans/DIR/<name>_TAG.txt; with no names, every headline row
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TESTDATA = "/root/testdata"  # fixture root, see TESTDATA.md

# What changes between two dumps of the same plan: expression ids
# (`doc_id#1234L`, `[id=#12]`), exchange plan ids, the counter Spark
# appends to lambda variable names (`lambda x_272`), RDD ids of
# checkpointed or Python-built leaves, and the random name of a
# temporary directory a plan reads from.
_VOLATILE = (
    (re.compile(r"#\d+"), "#x"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=x]"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_x"),
    (re.compile(r"RDD\[\d+\]"), "RDD[x]"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+"), "<tmp>"),
)


def normalize_plan(plan: str) -> str:
    """``plan`` with its run-specific ids and temp-directory names
    replaced by fixed tokens, so two dumps of one plan compare equal and
    a ``diff`` of two dumps shows only real plan changes."""
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def plan_text(df) -> str:
    """Formatted physical plan, normalized (see normalize_plan). Control
    chars from plan literals (e.g. match_recognize's NUL classification
    sentinel) are escaped so the dump stays a text file."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    plan = "".join(ch if ch.isprintable() or ch in "\n\t" else f"\\x{ord(ch):02x}" for ch in plan)
    return normalize_plan(plan)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*")
    ap.add_argument("--dir", help="write plans/DIR/<name>_TAG.txt instead of PLANS.md")
    ap.add_argument("--tag", help="file suffix in --dir mode, e.g. before/after")
    args = ap.parse_args()
    if (args.dir is None) != (args.tag is None):
        ap.error("--dir and --tag go together")
    if args.dir is None and not args.names:
        ap.error("PLANS.md mode needs at least one name")

    from blazingsql_spark.queries.registry import all_queries
    from blazingsql_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master="local[4]")
    specs = all_queries()
    names = args.names or sorted(n for n, s in specs.items() if s.headline)
    plans = {name: plan_text(specs[name].fn(spark, f"{TESTDATA}/sf0.001")) for name in names}

    if args.dir is not None:
        outdir = os.path.join(REPO, "plans", args.dir)
        os.makedirs(outdir, exist_ok=True)
        for name, plan in plans.items():
            path = os.path.join(outdir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan.rstrip() + "\n")
            print(f"wrote {path}")
        return 0

    path = os.path.join(REPO, "PLANS.md")
    with open(path) as f:
        text = f.read()
    for name, plan in plans.items():
        section = f"## {name}\n\n```\n{plan.rstrip()}\n```\n"
        pat = re.compile(rf"## {re.escape(name)}\n.*?(?=\n## |\Z)", re.S)
        if pat.search(text):
            # lambda replacement: plan text contains backslashes that the
            # template parser would treat as escapes
            text = pat.sub(lambda _m: section.rstrip() + "\n", text)
            print(f"replaced: {name}")
        else:
            text = text.rstrip() + "\n\n" + section
            print(f"appended: {name}")
    with open(path, "w") as f:
        f.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
