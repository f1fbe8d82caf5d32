"""The benchmark's workloads: what one pass runs, and how its results are
checked.

A pass is a list of units run in a seeded order. A unit is one or more ops
that must run back to back (the ANN build and then its probe); the
benchmark isolates state between units. Each op is timed on its own.
Correctness checks run outside every timed region. Per-run state lives on
the ``bench`` object passed to every function here (``bench.state``).
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Unit:
    name: str
    ops: list[tuple[str, Callable]]  # (op name, fn(tracer))
    after: Callable | None = None  # untimed hook after the unit: fn(pass_no)
    cleanup: Callable | None = None  # untimed isolation after the unit


@dataclass
class Check:
    name: str
    fn: Callable[[], None]  # raises AssertionError on a wrong result
    of_passes: bool = False  # reads what the passes recorded, so runs after them


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]  # registered with Context.create_table in setup
    units: Callable  # (bench) -> list[Unit]
    checks: Callable  # (bench) -> list[Check]
    prepare: Callable | None = None  # extra repeatable setup: fn(bench)
    report: Callable | None = None  # workload-only end-to-end figures: fn(bench) -> dict


# ------------------------------------------------------------------ helpers


def registry_op(bench, name: str) -> Callable:
    """Op running one registry row: its SQL text through ``Context.sql``
    when the row is SQL, else its DataFrame builder; then the noop sink."""
    spec = bench.queries[name]
    text = getattr(spec.fn, "sql", None)

    def run(t):
        with t.span("queries.construct", "construct"):
            if text is not None:
                with t.span("context.sql"):
                    df = bench.ctx.sql(text)
            else:
                df = spec.fn(bench.spark, bench.data_dir)
        if text is not None and t.on:
            with t.span("context.plan", "plan"):
                bench.ctx.explain(text, detail=True)
        with t.span("exec", "exec"):
            sink(df)

    return run


def oracle_check(bench, name: str) -> Check:
    spec = bench.queries[name]
    text = getattr(spec.fn, "sql", None)

    def fn():
        df = bench.ctx.sql(text) if text is not None else spec.fn(bench.spark, bench.data_dir)
        got = df.toPandas()
        want = bench.duck.execute(spec.oracle).fetchdf()
        bench.compare_frames(got, want, name)
        assert len(want) > 0, f"{name}: oracle returned no rows"

    return Check(f"oracle:{name}", fn)


def _single(bench, name: str) -> Unit:
    return Unit(name, [(name, registry_op(bench, name))], cleanup=bench.isolate)


# ----------------------------------------------------------------- tpch_sql

TPCH = tuple(f"tpch_q{i}" for i in range(1, 23))


def _tpch_units(bench) -> list[Unit]:
    return [_single(bench, n) for n in TPCH]


def _tpch_checks(bench) -> list[Check]:
    return [oracle_check(bench, n) for n in TPCH]


# ------------------------------------------------------------------ llm_ops

LLM_BATCH = ("events_match_recognize",)
HNSW_CELLS = 16  # the sim_ann_hnsw registry row's index
# The ANN tiers' documented recall standard; the registry row's higher
# floor holds for its fixed query set, not for every seeded one.
RECALL_FLOOR = 0.6
ANN_QUERIES = 24
INGEST_EPOCHS = 2
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _llm_prepare(bench) -> None:
    """Seeded inputs: documents shuffled into INGEST_EPOCHS files (one per
    micro-batch) and the ANN query set."""
    import pyarrow.parquet as pq

    rng = random.Random(bench.seed)
    st = bench.state
    docs = pq.read_table(os.path.join(bench.data_dir, "documents.parquet"))
    order = list(range(docs.num_rows))
    rng.shuffle(order)
    st["doc_epochs"] = _write_epochs(bench.scratch("ingest_input"), docs.take(order))
    n_vecs = pq.read_metadata(os.path.join(bench.data_dir, "embeddings.parquet")).num_rows
    st["query_ids"] = sorted(rng.sample(range(n_vecs), ANN_QUERIES))
    st["input_docs"] = docs.num_rows
    st["input_bytes"] = sum(os.path.getsize(p) for p in _files(st["doc_epochs"]))


def _write_epochs(path: str, table) -> str:
    """Split ``table`` into INGEST_EPOCHS equal parquet files; file i is
    micro-batch i of the stream."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = table.num_rows
    bounds = [n * i // INGEST_EPOCHS for i in range(INGEST_EPOCHS + 1)]
    for i in range(INGEST_EPOCHS):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{path}/part-{i:03d}.parquet")
    return path


def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]


def _ann_queries(bench):
    from pyspark.sql import functions as F

    emb = bench.tables["embeddings"]
    return emb.filter(F.col("vec_id").isin(bench.state["query_ids"])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _ann_unit(bench) -> Unit:
    """The hnsw_ivf ANN tier: build the index from ``embeddings`` with the
    public build calls (IVF k-means, list assignment, HNSW graph over the
    centroids; the cache-miss/write path), then probe the resident index
    with the seeded query set through ``prebuilt`` (the read path)."""
    from blazingsql_spark.functions import similarity
    from blazingsql_spark.operators import hnsw
    from blazingsql_spark.queries.registry import fan_out

    emb = bench.tables["embeddings"]
    index: dict = {}

    def build(t):
        with t.span("similarity.build.hnsw_ivf", "build"):
            cents = similarity.ivf_train_centroids(emb, k=HNSW_CELLS, dim=64)
            lists = similarity.assign_to_centroids(emb, cents, "vec_id", "embedding")
            # persisted at the registry row's size-aware width
            lists = fan_out(bench.spark, bench.data_dir, "embeddings", lists, per_task_rows=256).persist()
            lists.count()
            graph = hnsw.graph_from_centroids(cents, m=8, ef_construction=64)
            index["prebuilt"] = (cents, lists, graph)

    def topk():
        cents, lists, graph = index["prebuilt"]
        return hnsw.hnsw_ivf_topk(
            emb, _ann_queries(bench), k=5, n_centroids=HNSW_CELLS, ef=64,
            prebuilt=graph, prebuilt_ivf=(cents, lists),
        )

    def probe(t):
        with t.span("similarity.probe.hnsw_ivf"):
            with t.span("queries.construct", "construct"):
                df = topk()
            with t.span("exec", "exec"):
                sink(df)

    def after(p: int):
        # the final pass's answers, from the resident index, for the recall check
        if p == bench.last_pass:
            bench.state["approx"] = topk().select("query_id", "vec_id").toPandas()

    def cleanup():
        if "prebuilt" in index:
            index.pop("prebuilt")[1].unpersist()
        bench.isolate()

    return Unit(
        "ann:hnsw_ivf", [("build:hnsw_ivf", build), ("probe:hnsw_ivf", probe)], after=after, cleanup=cleanup
    )


def _ingest_unit(bench, pass_no: int) -> Unit:
    from blazingsql_spark.streaming.ingest import CorpusPrepIngest

    st = bench.state
    base = bench.scratch(f"ingest_p{pass_no}")
    corpus, index, ckpt = (os.path.join(base, d) for d in ("corpus", "index", "checkpoint"))

    def run(t):
        with t.span("streaming.ingest", "stream"):
            stream = (
                bench.spark.readStream.schema(DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(st["doc_epochs"])
            )
            q = (
                stream.writeStream.foreachBatch(CorpusPrepIngest(bench.spark, index, corpus))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        bench.record_stream(q)

    def after(p: int):
        import pyarrow.parquet as pq

        files = [f for d in (corpus, index) for f in _files(d)]
        stored = sum(os.path.getsize(f) for f in files)
        bench.layer_sample("sources.stored_bytes", stored)
        bench.layer_sample("sources.stored_files", len(files))
        st.setdefault("stored_ratio", []).append(stored / st["input_bytes"])
        survivors = pq.read_table(corpus, columns=["doc_id", "text"]).to_pandas()
        st.setdefault("survivors", []).append(survivors)

    def cleanup():
        shutil.rmtree(base, ignore_errors=True)
        bench.isolate()

    return Unit("ingest", [("ingest", run)], after=after, cleanup=cleanup)


def _llm_units(bench) -> list[Unit]:
    p = bench.pass_no
    return (
        [_single(bench, n) for n in LLM_BATCH]
        + [_ann_unit(bench)]
        + [_ingest_unit(bench, p)]
    )


def _llm_checks(bench) -> list[Check]:
    st = bench.state

    def recall():
        from blazingsql_spark.functions import similarity

        got = st.get("approx")
        assert got is not None, "hnsw_ivf: no probe answers recorded"
        exact = similarity.cosine_topk(bench.tables["embeddings"], _ann_queries(bench), k=5)
        want = exact.select("query_id", "vec_id").toPandas()
        r = st["recall"] = len(want.merge(got, on=["query_id", "vec_id"])) / len(want)
        assert r >= RECALL_FLOOR, f"hnsw_ivf: recall@5 {r:.3f} < {RECALL_FLOOR}"

    def ingest():
        from pyspark.sql import functions as F

        from blazingsql_spark.functions.text import quality_ok

        runs = st.get("survivors", [])
        assert runs, "ingest: no run recorded"
        gated = {
            (r.doc_id, r.text)
            for r in quality_ok(bench.tables["documents"], "text")
            .filter(F.col("quality_ok"))
            .select("doc_id", "text")
            .collect()
        }
        digests = set()
        for s in runs:
            rows = set(zip(s.doc_id, s.text))
            assert rows <= gated, "ingest: a survivor is not in the quality-gated input"
            assert s.text.is_unique, "ingest: two survivors share exact text"
            digests.add(tuple(sorted(s.doc_id)))
        assert len(digests) == 1, f"ingest: survivor set differs across passes ({len(digests)})"

    return (
        [oracle_check(bench, n) for n in LLM_BATCH]
        + [Check("recall:hnsw_ivf", recall, of_passes=True)]
        + [Check("ingest_invariants", ingest, of_passes=True)]
    )


def _llm_report(bench) -> dict:
    import statistics

    st = bench.state
    warm = bench.warm_passes()
    builds = [bench.latencies[p]["build:hnsw_ivf"] for p in warm]
    ingest = [bench.latencies[p]["ingest"] for p in warm]
    return {
        "index_build_s": (statistics.median(builds), "s"),
        "recall_at_5": (st.get("recall", 0.0), "fraction"),
        "ingest_docs_per_s": (st["input_docs"] / statistics.median(ingest), "docs/s"),
        "stored_bytes_per_input_byte": (statistics.median(st.get("stored_ratio", [0.0])), "ratio"),
    }


WORKLOADS = {
    "tpch_sql": Workload(
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
        _tpch_units,
        _tpch_checks,
    ),
    "llm_ops": Workload(
        ("documents", "embeddings"),
        _llm_units,
        _llm_checks,
        prepare=_llm_prepare,
        report=_llm_report,
    ),
}
