"""Scale measurements: fixture tables replicated N times with disjoint
ids (per-key history constant, key count grows), each case timed best of
2 with a noop sink. All local, no download.

Cases (select by name; default all):
  docs      remove_duplicated_ngram_spans, KN bigram/trigram perplexity,
            ANN margin mining and bounded semantic dedup on documents /
            embeddings at 1x and 64x
  mr        MATCH_RECOGNIZE (per-partition kernel) and DDSketch build +
            quantiles on events at 1x/16x/64x
  mr_nav    symbol-relative MATCH_RECOGNIZE (per-thread navigation DEFINE) vs
            its vectorized twin (same pattern, budget constraint dropped)
            on events at 1x/16x/64x
  hot       three long hot-loop queries on spark.range data (a 200M-row
            group-by aggregate, a 20M-row sort, a 10M x 2M join), each
            run 3 times, run 1 cold: wall seconds and process-tree CPU
            seconds (perfbench/run.py's tree_cpu_s) per run. Run it alone,
            in a fresh process, so that run 1 is cold; it ignores --sf-dir
            and --reps. The check for a JVM JIT-flag change: warm runs must
            keep their speed while the hot loops reach C2

Usage: python tools/scale.py [case ...] [--sf-dir DIR] [--reps 1,16,64]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dump_plans import TESTDATA  # noqa: E402

OFF = 10_000_000


def replicate(df, id_cols, reps):
    """``reps`` copies of ``df``; copy r shifts every id column by r * OFF."""
    from pyspark.sql import functions as F

    r = df.sparkSession.range(reps).select(F.col("id").alias("__r"))
    out = df.crossJoin(r)
    for c in id_cols:
        out = out.withColumn(c, F.col(c) + F.col("__r") * OFF)
    return out.drop("__r")


def best_of_2(label, build):
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label}: {best:.2f} s", flush=True)
    return best


def scaled(df, id_cols, reps):
    return df if reps == 1 else replicate(df, id_cols, reps).localCheckpoint(eager=True)


def case_docs(spark, sf_dir, reps_list):
    from blazingsql_spark.functions import similarity
    from blazingsql_spark.functions.dedup import remove_duplicated_ngram_spans
    from blazingsql_spark.functions.text import (
        kn_bigram_negative_logprob,
        kn_trigram_negative_logprob,
    )
    from blazingsql_spark.queries.registry import load_table

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb1 = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def margin_ann(emb):
        from pyspark.sql import functions as F

        a = emb.filter(F.col("vec_id") % 20 == 0)
        b = emb.filter(F.col("vec_id") % 20 != 0)

        def lsh_knn(corpus, queries, kk):
            return similarity.ann_lsh_topk(corpus, queries, k=kk, dim=64, bands=4, bits_per_band=16)

        return similarity.margin_mine(a, b, k=4, threshold=1.0, knn=lsh_knn)

    ops = {
        "dedup_spans_rewrite": lambda d, e: remove_duplicated_ngram_spans(d, n=3),
        "perplexity_kn2": lambda d, e: kn_bigram_negative_logprob(d),
        "perplexity_kn3": lambda d, e: kn_trigram_negative_logprob(d),
        "margin_mine_ann": lambda d, e: margin_ann(e),
        # bounded default path (cap 2000), 8 clusters: the production shape
        "semdedup_bounded": lambda d, e: similarity.semantic_dedup_keep(e, n_clusters=8, threshold=0.95, dim=64),
    }
    data = {reps: (scaled(docs1, ["doc_id"], reps), scaled(emb1, ["vec_id"], reps)) for reps in reps_list}
    for reps, (d, e) in data.items():
        print(f"docs {reps}x: {d.count()} rows, embeddings {e.count()} rows", flush=True)
    for name, fn in ops.items():
        times = [best_of_2(f"{name} {reps}x", lambda: fn(*data[reps])) for reps in reps_list]
        print(f"== {name}: " + " -> ".join(f"{t:.2f}" for t in times), flush=True)


def _events(spark, sf_dir, cols):
    from blazingsql_spark.queries.registry import load_table

    return load_table(spark, sf_dir, "events").select(*cols)


def case_mr(spark, sf_dir, reps_list):
    from pyspark.sql import functions as F

    from blazingsql_spark.functions import sketches
    from blazingsql_spark.operators.match_recognize import match_recognize

    ev1 = _events(spark, sf_dir, ["user_id", "event_id", "event_type", "ts"])
    define = {"V": "event_type = 'view'", "C": "event_type = 'click'", "P": "event_type = 'purchase'"}

    def mr(ev):
        return match_recognize(
            ev, ["user_id"], ["ts", "event_id"], [("COUNT(*)", "n"), ("FIRST(ts)", "first_ts")], "V C+ P", define
        )

    def dd(ev):
        sk = sketches.ddsketch_build(ev.select(F.col("event_id").cast("double").alias("v")), "v")
        return sketches.ddsketch_quantiles(sk, [0.5, 0.99])

    for reps in reps_list:
        ev = scaled(ev1, ["user_id", "event_id"], reps)
        t_mr = best_of_2(f"match_recognize {reps}x ({ev.count()} rows)", lambda: mr(ev))
        t_dd = best_of_2(f"ddsketch {reps}x", lambda: dd(ev))
        print(f"== reps={reps}: mr {t_mr:.2f} s, ddsketch {t_dd:.2f} s", flush=True)


def case_mr_nav(spark, sf_dir, reps_list):
    from blazingsql_spark.operators.match_recognize import match_recognize

    ev1 = _events(spark, sf_dir, ["user_id", "event_id", "event_type", "ts", "value"])
    meas = [("COUNT(C.*)", "n_clicks"), ("SUM(C.value)", "cv"), ("FIRST(ts)", "v_ts"), ("LAST(ts)", "p_ts")]
    vec_define = {"V": "event_type = 'view'", "C": "event_type = 'click'", "P": "event_type = 'purchase'"}
    nav_define = dict(vec_define, P="event_type = 'purchase' AND ts <= FIRST(V.ts) + INTERVAL 8 HOUR")

    def mr(ev, define):
        return match_recognize(ev, ["user_id"], ["ts", "event_id"], meas, "V C* P", define)

    for reps in reps_list:
        ev = scaled(ev1, ["user_id", "event_id"], reps)
        t_nav = best_of_2(f"mr symbol-relative {reps}x ({ev.count()} rows)", lambda: mr(ev, nav_define))
        t_vec = best_of_2(f"mr vectorized twin {reps}x", lambda: mr(ev, vec_define))
        print(
            f"== reps={reps}: nav {t_nav:.2f} s, vec {t_vec:.2f} s, overhead {t_nav / t_vec:.2f}x",
            flush=True,
        )


def case_hot(spark, sf_dir, reps_list):
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from run import tree_cpu_s

    def agg():
        return spark.range(200_000_000).groupBy((F.col("id") % 1000).alias("g")).agg(F.sum("id"), F.count("*"))

    def sort():
        return spark.range(20_000_000).select((F.col("id") * 2654435761 % 20_000_000).alias("k")).orderBy("k")

    def join():
        a = spark.range(10_000_000).select((F.col("id") % 2_000_000).alias("k"), F.col("id").alias("v"))
        b = spark.range(2_000_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
        return a.join(b, "k")

    for name, build in (("aggregate 200M", agg), ("sort 20M", sort), ("join 10M x 2M", join)):
        for run in (1, 2, 3):
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            print(f"hot {name} run {run}: {wall:.2f} s wall, {cpu:.2f} s CPU", flush=True)


CASES = {
    "docs": (case_docs, (1, 64)),
    "mr": (case_mr, (1, 16, 64)),
    "mr_nav": (case_mr_nav, (1, 16, 64)),
    "hot": (case_hot, ()),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("cases", nargs="*", metavar="case", help=", ".join(CASES))
    ap.add_argument("--sf-dir", default=f"{TESTDATA}/sf0.1")
    ap.add_argument("--reps", help="comma-separated replication factors (default per case)")
    args = ap.parse_args()
    unknown = set(args.cases) - set(CASES)
    if unknown:
        ap.error(f"unknown case(s): {', '.join(sorted(unknown))}")

    from blazingsql_spark.session import get_spark

    spark = get_spark(master="local[32]")
    for name in args.cases or CASES:
        fn, default_reps = CASES[name]
        reps = tuple(int(r) for r in args.reps.split(",")) if args.reps else default_reps
        fn(spark, args.sf_dir, reps)
    return 0


if __name__ == "__main__":
    sys.exit(main())
