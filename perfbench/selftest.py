"""Self-tests for the benchmark, at the smallest scale and run length.

For every workload this runs ``run.py`` untraced and traced (same seed) and
checks that:

- the untraced run prints every end-to-end metric of BENCHMARK.json, with
  its unit, plus the wall-time figures, the workload's own figures and
  ``failed_ops``;
- the traced run prints every per-layer metric of BENCHMARK.json with its
  unit, writes the span file, and reports the tracing overhead;
- span self-times are non-negative and sum to at most the traced wall time;
- ``exec.jobs`` and ``queries.construct_jobs`` repeat exactly across two
  warm traced passes (``--min-warm 2``);
- both runs are correct (no failed op).

Usage: ``python3 perfbench/selftest.py [--workload NAME ...]``
(about five minutes for both workloads on a 4-core host).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
        "--min-warm", "2",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[:-1]


def check_workload(workload: str, spec: dict) -> list[str]:
    errors: list[str] = []

    def expect(cond: bool, msg: str) -> None:
        if not cond:
            errors.append(f"{workload}: {msg}")

    out, notes = _run(workload, 0)
    expect(set(out) == {"correct", "attempted", "failed", "metrics"}, f"result keys {sorted(out)}")
    expect(out["correct"] and out["failed"] == 0, f"untraced run failed {out['failed']} ops")
    for m in spec["end_to_end"]:
        got = out["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"], f"e2e {m['name']} missing or wrong unit: {got}")
        expect(got is not None and got["value"] > 0, f"e2e {m['name']} is not positive: {got}")
        expect(any(n.startswith(f"# e2e {m['name']} = ") for n in notes), f"no report line for {m['name']}")
    expect(set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}, "extra e2e metrics")
    for name in ("failed_ops", "first_pass_s", "pass_s", "op_geomean_s"):
        expect(any(n.startswith(f"# e2e {name} = ") for n in notes), f"no {name} line")
    expect(any(n.startswith("# record ") for n in notes), "no run record line")

    out, notes = _run(workload, 1)
    expect(out["correct"] and out["failed"] == 0, f"traced run failed {out['failed']} ops")
    for m in spec["per_layer"]:
        got = out["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"], f"layer {m['name']} missing or wrong unit: {got}")
    expect(set(out["metrics"]) == {m["name"] for m in spec["per_layer"]}, "extra per-layer metrics")
    expect(
        any(n.startswith("# tracing overhead") and "n/a" not in n for n in notes),
        "no tracing overhead reported",
    )

    with open(os.path.join(ROOT, ".perfbench", "trace", f"{workload}-seed{SEED}.json")) as f:
        trace = json.load(f)
    self_times = trace["self_time_s"]
    expect(all(v >= -1e-9 for v in self_times.values()), f"negative self time {self_times}")
    expect(sum(self_times.values()) <= trace["wall_s"] + 1e-6, "self times exceed the wall time")
    expect(bool(trace["spans"]) and all(s["end_s"] >= s["start_s"] for s in trace["spans"]), "bad spans")
    passes = trace["per_pass_layers"]
    expect(len(passes) >= 2, f"only {len(passes)} warm traced passes")
    for key in ("exec.jobs", "queries.construct_jobs"):
        vals = {p[key] for p in passes.values()}
        expect(len(vals) == 1, f"{key} differs across warm passes: {vals}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark self-tests")
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    errors: list[str] = []
    for w in names:
        errs = check_workload(w, spec)
        print(f"{w}: {'ok' if not errs else 'FAILED'}")
        errors += errs
    for e in errors:
        print(f"  {e}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
