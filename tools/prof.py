"""Where a registry row's time goes, layer by layer.

Usage:
  python tools/prof.py <row> [<row> ...] [--sf-dir DIR] [--reps N]
  python tools/prof.py stream [--epochs N]

Row mode runs each row once untimed (JIT, resident indexes), then N timed
runs. DataFrame construction and execution (planning + noop sink) run
under separate Spark job groups, and each timed run prints:
construction seconds and jobs, planning seconds, execution seconds, jobs,
stages and tasks, the time Python workers ran (Spark's "time to run
Python workers" metric of the pandas/Arrow UDF nodes), the input and
shuffle bytes, and the run's code generation
cost: Janino compiles (Spark's CodegenMetrics; 0 when every generated
class came from Spark's codegen cache) and JIT compile milliseconds (the
JVM's CompilationMXBean; the JIT compiles in background threads, so the
split between runs is approximate), next to the run's process-tree CPU
seconds (this process, the driver JVM and the Python workers, measured
with perfbench/run.py's tree_cpu_s), so the JIT's share of a run shows
without a profiler. Stages and bytes come from the
session's own Spark event log, parsed with perfbench/spans.py. A last
line gives the session's totals, warm-up runs included: Janino compiles
(with a large enough codegen cache, the rows' working set of generated
classes), JIT milliseconds, and the JIT code cache's peak.

Stream mode drives every streaming maintainer directly with sf0.001
fixture batches (epoch 0 = cold build, later epochs = steady state) and
prints each epoch's wall seconds and Spark job count. It then dumps the
steady-state per-batch plan of each maintainer's compute body (the
library function the handler calls) to plans/r13/stream_<name>_plan.txt,
where tests/test_plans.py's streaming budgets point, with its Exchange
count. The dumps are normalized (dump_plans.normalize_plan), so a plan
that did not change is rewritten byte for byte.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from dump_plans import TESTDATA, plan_text  # noqa: E402


@contextmanager
def job_group(sc, group: str):
    """Run the body's Spark jobs under ``group``; yields the group's job
    ids list, filled in when the body ends."""
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def profile_rows(args) -> int:
    from run import tree_cpu_s
    from spans import job_counters, read_event_log

    from blazingsql_spark.queries.pipeline import reset_resident_indexes
    from blazingsql_spark.queries.registry import all_queries
    from blazingsql_spark.session import codegen_stats, get_spark

    event_dir = tempfile.mkdtemp(prefix="prof_events_")
    spark = get_spark(
        app_name="prof",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    specs = all_queries()
    runs = []  # (row, rep, construct_s, plan_s, exec_s, compiles, jit_ms, cpu_s)
    for name in args.rows:
        spec = specs[name]
        spec.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        for rep in range(1, args.reps + 1):
            cg0, cpu0 = codegen_stats(spark), tree_cpu_s()
            with job_group(sc, f"{name}:{rep}|construct"):
                t0 = time.perf_counter()
                df = spec.fn(spark, args.sf_dir)
                t1 = time.perf_counter()
            with job_group(sc, f"{name}:{rep}|exec"):
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            cpu = tree_cpu_s() - cpu0
            cg1 = codegen_stats(spark)
            runs.append(
                (name, rep, t1 - t0, t2 - t1, t3 - t2, cg1.compiles - cg0.compiles, cg1.jit_ms - cg0.jit_ms, cpu)
            )
        spark.catalog.clearCache()
        reset_resident_indexes()
    total = codegen_stats(spark)
    spark.stop()  # flushes the event log

    def attribute(group, _submit_ms):
        return tuple(group.rsplit("|", 1)) if group and "|" in group else None

    counters = job_counters(read_event_log(event_dir), attribute)
    shutil.rmtree(event_dir, ignore_errors=True)
    for name, rep, construct_s, plan_s, exec_s, compiles, jit_ms, cpu_s in runs:
        c = counters.get((f"{name}:{rep}", "construct"), {})
        e = counters.get((f"{name}:{rep}", "exec"), {})
        print(
            f"{name} run {rep}/{args.reps}: "
            f"construct {construct_s:.3f} s / {c.get('jobs', 0):.0f} jobs  "
            f"plan {plan_s:.3f} s  "
            f"exec {exec_s:.3f} s / {e.get('jobs', 0):.0f} jobs / {e.get('stages', 0):.0f} stages / "
            f"{e.get('tasks', 0):.0f} tasks  "
            f"python {e.get('python_run_s', 0):.3f} s  "
            f"input {c.get('input_bytes', 0) + e.get('input_bytes', 0):.0f} B / "
            f"{c.get('input_records', 0) + e.get('input_records', 0):.0f} rec  "
            f"shuffle write {c.get('shuffle_write_bytes', 0) + e.get('shuffle_write_bytes', 0):.0f} B "
            f"read {c.get('shuffle_read_bytes', 0) + e.get('shuffle_read_bytes', 0):.0f} B  "
            f"janino {compiles} compiles  jit {jit_ms} ms  cpu {cpu_s:.2f} s",
            flush=True,
        )
    print(
        f"session: janino {total.compiles} compiles  jit {total.jit_ms} ms  "
        f"code cache peak {total.code_cache_peak_mb:.0f} MB",
        flush=True,
    )
    return 0


def audit_streams(args) -> int:
    from pyspark.sql import functions as F

    from blazingsql_spark.queries.registry import load_table
    from blazingsql_spark.session import get_spark

    sf_dir = f"{TESTDATA}/sf0.001"
    epochs = args.epochs
    spark = get_spark(app_name="prof_stream", master="local[4]")
    sc = spark.sparkContext
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doc_batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(epochs)]
    emb_batches = [embs.filter(F.col("vec_id") % 3 == i) for i in range(epochs)]
    # synthetic CDC batches over a small keyed table
    cdc_batches = [
        spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") * 10 + i).alias("v"),
            F.when(F.col("id") % 17 == i, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.lit(i).cast("long").alias("version"),
        )
        for i in range(epochs)
    ]
    edge_batches = [
        spark.range(300).select((F.col("id") + i * 7).alias("src"), (F.col("id") % 50 + i).alias("dst"))
        for i in range(epochs)
    ]
    val_batches = [
        spark.range(5000).select(((F.col("id") % 997) * (i + 1) / 7.0).alias("v")) for i in range(epochs)
    ]

    tmp = tempfile.mkdtemp(prefix="prof_stream_")

    def run(name, handler, batches):
        rows = []
        for e, b in enumerate(batches):
            with job_group(sc, f"{name}-e{e}") as jobs:
                t0 = time.perf_counter()
                handler(b, e)
                wall = time.perf_counter() - t0
            rows.append((e, round(wall, 3), len(jobs)))
        print(name, rows, flush=True)

    from blazingsql_spark.streaming.ingest import (
        AnnIndexIngest,
        BloomCorpusIngest,
        CdcApplyIngest,
        ComponentsIngest,
        CorpusPrepIngest,
        DedupIngest,
        LexicalIndexIngest,
        PcaIngest,
        QuantileSketchIngest,
    )

    run("dedup", DedupIngest(spark, f"{tmp}/d_idx", f"{tmp}/d_corp"), doc_batches)
    run("corpus_prep", CorpusPrepIngest(spark, f"{tmp}/cp_idx", f"{tmp}/cp_corp"), doc_batches)
    run("lexical", LexicalIndexIngest(spark, f"{tmp}/lex"), doc_batches)
    run("bloom", BloomCorpusIngest(spark, f"{tmp}/b_scr", f"{tmp}/b_corp"), doc_batches)
    run("ann", AnnIndexIngest(spark, f"{tmp}/ann", iterations=2, hnsw_m=4, hnsw_ef=16), emb_batches)
    run("pca", PcaIngest(spark, f"{tmp}/pca", k=4), emb_batches)
    run("components", ComponentsIngest(spark, f"{tmp}/cc"), edge_batches)
    run("cdc", CdcApplyIngest(spark, f"{tmp}/cdc", key_cols=["k"]), cdc_batches)
    run("quantile", QuantileSketchIngest(spark, f"{tmp}/qs", "v"), val_batches)

    # ---- steady-state per-batch compute plans (the handlers' bodies) ----
    from blazingsql_spark.functions import dedup as D
    from blazingsql_spark.functions import sketches
    from blazingsql_spark.functions.text import _tokens
    from blazingsql_spark.operators.graph import incremental_components
    from blazingsql_spark.operators.merge import cdc_apply
    from blazingsql_spark.sources import manifest as mf

    b = doc_batches[-1]
    plans = {
        "dedup_check": D.incremental_near_dup_check(spark, b, f"{tmp}/d_idx", exclude_epoch=epochs - 1),
        "dedup_signatures": D._banded_signatures(b, "text", "doc_id", 8, 4, 2),
        "lexical_postings": _tokens(b, "doc_id", "text").groupBy("doc_id", "token").agg(F.count("*").alias("tf")),
        "bloom_probe": D.bloom_probe(
            b,
            mf.read_live(spark, f"{tmp}/b_scr/words", mf.read_manifest(spark, f"{tmp}/b_scr"))
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word")),
            "text",
            "doc_id",
            1 << 16,
            4,
        ),
        "components_step": incremental_components(mf.read_snapshot(spark, f"{tmp}/cc"), edge_batches[-1]),
        "cdc_apply": cdc_apply(mf.read_snapshot(spark, f"{tmp}/cdc"), cdc_batches[-1], ["k"], "op", "version"),
        "quantile_build": sketches.ddsketch_build(val_batches[-1], "v"),
    }
    outdir = os.path.join(REPO, "plans", "r13")
    os.makedirs(outdir, exist_ok=True)
    for pname, df in plans.items():
        txt = plan_text(df)
        path = os.path.join(outdir, f"stream_{pname}_plan.txt")
        with open(path, "w") as f:
            f.write(txt.rstrip() + "\n")
        print(f"{pname}: exchanges={txt.count('Exchange')} -> {path}", flush=True)

    shutil.rmtree(tmp, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("rows", nargs="+", help="registry row names, or the single word 'stream'")
    ap.add_argument("--sf-dir", default=f"{TESTDATA}/sf0.1", help="row mode: fixture directory")
    ap.add_argument("--reps", type=int, default=3, help="row mode: timed runs per row")
    ap.add_argument("--epochs", type=int, default=3, help="stream mode: batches per maintainer")
    args = ap.parse_args()
    if args.rows == ["stream"]:
        return audit_streams(args)
    return profile_rows(args)


if __name__ == "__main__":
    sys.exit(main())
