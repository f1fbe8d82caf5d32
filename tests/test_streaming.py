"""Structured Streaming operators: drive each stream to completion against
the bounded parquet source and cross-check against the equivalent batch
computation (differential testing, streaming vs batch engine)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from blazingsql_spark.queries.registry import load_table
from blazingsql_spark.streaming import events as st
from tests.conftest import SF_DIR, normalize


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_tumbling_counts_matches_batch(spark):
    stream = st.tumbling_counts(st.stream_events(spark, SF_DIR))
    got = st.run_to_memory(spark, stream, "t_tumbling")

    ev = load_table(spark, SF_DIR, "events")
    # Append mode only emits windows finalized under the watermark: the
    # window containing max(ts) (and anything after watermark) never closes.
    cutoff = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .filter(F.col("window.end") <= F.lit(cutoff) - F.expr("INTERVAL 10 MINUTES"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "v")
    )
    got = got.filter(
        F.col("window_start") + F.expr("INTERVAL 5 MINUTES")
        <= F.lit(cutoff) - F.expr("INTERVAL 10 MINUTES")
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        normalize(got.toPandas()), normalize(batch.toPandas()), check_dtype=False
    )


def test_sessionize_stream_runs(spark):
    stream = st.sessionize_stream(st.stream_events(spark, SF_DIR))
    got = st.run_to_memory(spark, stream, "t_sessions")
    assert got.count() > 0
    # session windows are disjoint per user and gap-consistent
    pdf = got.orderBy("user_id", "session_start").toPandas()
    for _, g in pdf.groupby("user_id"):
        starts = g["session_start"].tolist()
        ends = g["session_end"].tolist()
        for i in range(1, len(starts)):
            assert starts[i] >= ends[i - 1], "overlapping sessions"


def test_streaming_dedup(spark):
    base = st.stream_events(spark, SF_DIR)
    got = st.run_to_memory(spark, st.streaming_dedup(base), "t_dedup")
    n_events = load_table(spark, SF_DIR, "events").count()
    assert got.count() == n_events  # source has unique event_ids
    assert got.select("event_id").distinct().count() == n_events


def test_user_running_totals_stateful(spark):
    stream = st.user_running_totals(st.stream_events(spark, SF_DIR))
    got = st.run_to_memory(spark, stream, "t_state", output_mode="update")
    # final state per user == batch aggregate
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    import pandas as pd

    got_pdf = (
        got.toPandas().sort_values("n_events").groupby("user_id").last().reset_index()
    )
    want_pdf = batch.toPandas()
    merged = got_pdf.merge(want_pdf, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want_pdf)
    assert (merged["n_events_got"] == merged["n_events_want"]).all()
    assert (abs(merged["total_value_got"] - merged["total_value_want"]) < 0.05).all()


def test_enrich_stream_with_static_dim(spark):
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue"),
         ("signup", "acquisition"), ("error", "ops")],
        ["event_type", "category"],
    )
    stream = st.enrich_stream(st.stream_events(spark, SF_DIR), dim, on="event_type")
    got = st.run_to_memory(spark, stream, "t_enrich")
    n = load_table(spark, SF_DIR, "events").count()
    assert got.count() == n
    assert got.filter("category IS NULL").count() == 0
    assert got.filter("event_type = 'purchase'").select("category").distinct().first()[0] == "revenue"


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_stream_stream_join_matches_batch(spark):
    base = st.stream_events(spark, SF_DIR)
    purchases = base.filter("event_type = 'purchase'")
    views = base.filter("event_type = 'view'")
    got = st.run_to_memory(
        spark, st.stream_stream_join(purchases, views), "t_ssjoin"
    )

    ev = load_table(spark, SF_DIR, "events")
    bp = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id", "ts AS purchase_ts"
    )
    bv = ev.filter("event_type = 'view'").selectExpr(
        "event_id AS view_id", "user_id AS v_user_id", "ts AS view_ts"
    )
    want = bp.join(
        bv,
        (bp.user_id == bv.v_user_id)
        & (bv.view_ts <= bp.purchase_ts)
        & (bv.view_ts >= bp.purchase_ts - F.expr("INTERVAL 1 HOUR")),
    )
    assert got.count() == want.count()
    got_pairs = {(r.purchase_id, r.view_id) for r in got.collect()}
    want_pairs = {(r.purchase_id, r.view_id) for r in want.collect()}
    assert got_pairs == want_pairs


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_dedup_ingest_pipeline(spark, tmp_path):
    """Streaming ingest: batch 1 fills corpus+index; batch 2 (copies + fresh
    docs) gets near-dups filtered against the index."""
    from blazingsql_spark.streaming.ingest import DedupIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter("doc_id < 50")
    # batch 2: 5 exact copies of batch-1 docs (new ids) + genuinely fresh
    # docs with a disjoint vocabulary (corpus docs share a tiny vocab, so
    # they'd legitimately LSH-collide with each other)
    copies = b1.filter("doc_id < 5").select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    fresh = spark.createDataFrame(
        [(6000 + i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(10)],
        ["doc_id", "text"],
    )
    b2 = copies.union(fresh)

    handler = DedupIngest(
        spark, str(tmp_path / "index"), str(tmp_path / "corpus")
    )
    handler(b1, 0)
    handler(b2, 1)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert {r.doc_id for r in b1.collect()} <= ids  # batch 1 all ingested
    assert {r.doc_id for r in fresh.collect()} <= ids  # fresh docs ingested
    assert not any(5000 <= i < 5005 for i in ids)  # copies filtered out

    # restart resilience: a NEW handler (fresh in-memory state, e.g. after a
    # checkpoint restart) pointed at the existing index must still dedup its
    # first batch against what's on disk.
    restarted = DedupIngest(spark, str(tmp_path / "index"), str(tmp_path / "corpus"))
    late_copies = b1.filter("doc_id < 5").select(
        (F.col("doc_id") + 7000).alias("doc_id"), "text"
    )
    restarted(late_copies, 2)
    ids_after = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).select("doc_id").collect()
    }
    assert not any(7000 <= i < 7005 for i in ids_after)  # filtered on first batch


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_dedup_ingest_index_compaction(spark, tmp_path):
    """Many micro-batches must not grow the signature index's file count
    without bound: compaction rewrites it into index_partitions files, and
    dedup keeps working against the compacted index."""
    from blazingsql_spark.streaming.ingest import DedupIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    handler = DedupIngest(
        spark,
        str(tmp_path / "index"),
        str(tmp_path / "corpus"),
        max_index_files=6,
        index_partitions=2,
    )
    from blazingsql_spark.sources import manifest as mf

    for epoch in range(8):  # 8 disjoint batches of fresh docs
        batch = docs.filter(
            (F.col("doc_id") % 8 == epoch) & (F.col("doc_id") < 80)
        )
        handler(batch, epoch)
        # live view (manifest-gated) stays bounded: folded base + at most
        # the current epoch's files (superseded dirs are GC'd at publish)
        man = mf.read_manifest(spark, str(tmp_path / "index"))
        live = spark.read.parquet(str(tmp_path / "index")).filter(
            mf.live_partition_filter(man)
        )
        n_files = len(spark.read.parquet(str(tmp_path / "index")).inputFiles())
        assert n_files <= 6 + 4, n_files  # raw dir: base + one epoch's files
        assert live.count() > 0

    # dedup still works against the compacted index: replay batch 0 copies
    copies = docs.filter((F.col("doc_id") % 8 == 0) & (F.col("doc_id") < 80)).select(
        (F.col("doc_id") + 8000).alias("doc_id"), "text"
    )
    handler(copies, 99)
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).select("doc_id").collect()
    }
    assert not any(i >= 8000 for i in ids)


def test_split_assignment_stream_matches_batch(spark, tmp_path):
    """Split/shard assignment is a stateless per-row projection, so it runs
    UNCHANGED on a stream — and, because it's hash-keyed, every micro-batch
    assigns exactly what a batch pass over the same rows would (no state to
    carry, nothing to reconcile at restart)."""
    from pyspark.sql import functions as F

    from blazingsql_spark.functions import sampling
    from blazingsql_spark.queries.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = (
        sampling.assign_shard(sampling.assign_split(stream, "doc_id"), "doc_id", n_shards=8)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r["doc_id"]: (r["split"], r["shard"])
        for r in spark.read.parquet(out).select("doc_id", "split", "shard").collect()
    }
    batch = {
        r["doc_id"]: (r["split"], r["shard"])
        for r in sampling.assign_shard(
            sampling.assign_split(docs, "doc_id"), "doc_id", n_shards=8
        ).collect()
    }
    assert streamed == batch


def test_corpus_prep_ingest(spark, tmp_path):
    """Streaming corpus prep = quality gate → dedup → split/shard: the
    output corpus must contain exactly the quality-passing, deduped docs,
    with split/shard assignments IDENTICAL to the batch operators (hash-
    stable — arrival time must not matter)."""
    from blazingsql_spark.functions.sampling import assign_shard, assign_split
    from blazingsql_spark.functions.text import quality_ok
    from blazingsql_spark.streaming.ingest import CorpusPrepIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    junk = spark.createDataFrame(
        [(9000 + i, "x" * 50) for i in range(5)]  # 1 token → fails quality
        + [(9100 + i, "!!! ??? ;;; ::: @@@ ###") for i in range(3)],
        ["doc_id", "text"],
    )
    b1 = docs.filter("doc_id < 40").union(junk)
    copies = docs.filter("doc_id < 5").select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    b2 = docs.filter("doc_id >= 40 AND doc_id < 60").union(copies)

    handler = CorpusPrepIngest(spark, str(tmp_path / "index"), str(tmp_path / "corpus"))
    handler(b1, 0)
    handler(b2, 1)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    # junk never ingested; near-dup copies of batch-1 docs filtered in batch 2
    assert not any(9000 <= i < 9200 for i in ids), ids
    assert not any(5000 <= i < 5005 for i in ids), ids
    # every quality-passing original doc either ingested or dropped as a
    # near-dup of an earlier one; quality-fail docs exactly excluded
    gated = quality_ok(docs.filter("doc_id < 60"), "text").filter("quality_ok")
    assert ids <= {r.doc_id for r in gated.collect()}
    # assignments match the batch operators exactly (hash-stable)
    want = {
        r.doc_id: (r.split, r.shard)
        for r in assign_shard(assign_split(gated, "doc_id"), "doc_id", n_shards=64).collect()
    }
    for r in corpus.select("doc_id", "split", "shard").collect():
        assert (r.split, r.shard) == want[r.doc_id], r


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_ann_index_ingest_builds_extends_and_tracks_drift(spark, tmp_path):
    """Streaming ANN-index maintenance: epoch 0 builds the index and the
    drift baseline; epoch 1 (same distribution) extends with no retrain
    flag; epoch 2 (shifted distribution, via a RESTARTED handler → disk
    probe, not memory) extends but flags retrain."""
    from blazingsql_spark.functions import similarity as S
    from blazingsql_spark.streaming.ingest import AnnIndexIngest

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    b1 = emb.filter("vec_id < 300")
    b2 = emb.filter("vec_id >= 300 AND vec_id < 400")
    shifted = emb.filter("vec_id >= 400").select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(30.0)).alias("embedding"),
    )

    path = str(tmp_path / "annindex")
    handler = AnnIndexIngest(spark, path, iterations=2)
    handler(b1, 0)
    handler(b2, 1)
    restarted = AnnIndexIngest(spark, path)
    restarted(shifted, 2)

    encoded = spark.read.parquet(f"{path}/encoded")
    assert encoded.count() == 300 + 100 + 100
    drift = {
        r["epoch_id"]: r
        for r in spark.read.parquet(f"{path}/drift").collect()
    }
    assert set(drift) == {0, 1, 2}
    assert drift[0]["retrain"] is False and abs(drift[0]["drift_ratio"] - 1.0) < 1e-9
    assert drift[1]["retrain"] is False  # same distribution as the build
    assert drift[2]["retrain"] is True and drift[2]["drift_ratio"] > 1.5

    # the extended index is searchable through the normal probe path
    cents, books, enc = S.load_ann_index(spark, path)
    queries = b1.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = S.ivfpq_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8,
        prebuilt=(cents, books, enc),
    )
    assert hits.count() == 3 * 5


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_ann_index_ingest_hnsw_coarse_tier(spark, tmp_path):
    """hnsw_m enables the landmark-graph coarse tier: epoch 0 builds AND
    persists the graph with the frozen centroids; later epochs (including
    a RESTARTED handler → disk load, not memory) reuse it unchanged and
    append a coarse-probe recall row per epoch. The persisted graph must
    route hnsw_ivf_topk identically to the in-memory build, and with
    ef >= n_centroids the probes are exact (recall 1.0 telemetered)."""
    from blazingsql_spark.functions import similarity as S
    from blazingsql_spark.operators import hnsw as H
    from blazingsql_spark.streaming.ingest import AnnIndexIngest

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    b1 = emb.filter("vec_id < 300")
    b2 = emb.filter("vec_id >= 300 AND vec_id < 400")
    b3 = emb.filter("vec_id >= 400 AND vec_id < 500")

    path = str(tmp_path / "annidx_hnsw")
    # ef >= n_centroids=8 ⇒ the graph probe is exact ⇒ recall rows = 1.0
    handler = AnnIndexIngest(spark, path, iterations=2, hnsw_m=4, hnsw_ef=64)
    handler(b1, 0)
    graph_files_after_build = sorted(
        spark.read.parquet(f"{path}/hnsw/nodes").collect(),
        key=lambda r: r["node_idx"],
    )
    handler(b2, 1)
    restarted = AnnIndexIngest(spark, path, hnsw_m=4, hnsw_ef=64)
    restarted(b3, 2)

    tel = {
        r["epoch_id"]: r for r in spark.read.parquet(f"{path}/hnsw_telemetry").collect()
    }
    assert set(tel) == {0, 1, 2}
    for r in tel.values():
        assert r["coarse_recall"] == 1.0 and r["sample_n"] > 0

    # graph frozen across epochs: nodes unchanged after extends
    nodes_now = sorted(
        spark.read.parquet(f"{path}/hnsw/nodes").collect(),
        key=lambda r: r["node_idx"],
    )
    assert [r["centroid_id"] for r in nodes_now] == [
        r["centroid_id"] for r in graph_files_after_build
    ]

    # persisted tier serves the probe path: probes routed through the
    # RELOADED graph must equal probes through a fresh in-memory build
    # over the same frozen centroids (round-trip identity on routing)
    cents, _, _ = S.load_ann_index(spark, path)
    reloaded = H.load_hnsw_index(spark, f"{path}/hnsw")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = H.hnsw_coarse_probes(
        queries, cents, n_probe=3, ef=64, prebuilt=reloaded
    )
    fresh = H.graph_from_centroids(cents, m=4, ef_construction=64)
    want = H.hnsw_coarse_probes(queries, cents, n_probe=3, ef=64, prebuilt=fresh)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_lexical_index_ingest_matches_batch_bm25(spark, tmp_path):
    """Streaming BM25 index: two epochs of documents appended to the
    postings/doclen index; the indexed probe must equal the one-shot
    batch bm25_topk over the union corpus (shared scoring core), and
    compaction must bound the postings file count without changing
    results."""
    from blazingsql_spark.functions.text import bm25_topk, bm25_topk_indexed
    from blazingsql_spark.streaming.ingest import LexicalIndexIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter("doc_id < 200")
    b2 = docs.filter("doc_id >= 200")
    terms = ["vector", "spark", "hash"]

    handler = LexicalIndexIngest(spark, str(tmp_path / "lexidx"))
    handler(b1, 0)
    handler(b2, 1)
    # at-least-once replay: foreachBatch re-delivers epoch 1 after a
    # failure — the epoch partition must be REPLACED, not double-counted
    # (a blind append would inflate tf/dl/avgdl and corrupt every score)
    handler(b2, 1)

    indexed = [
        (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, str(tmp_path / "lexidx"), terms, k=15).collect()
    ]
    batch = [(r.doc_id, r.bm25) for r in bm25_topk(docs, terms, k=15).collect()]
    assert indexed == batch

    # compaction: force a tiny file bound — committed epochs fold into a
    # manifest-published base partition, file count shrinks for BOTH
    # postings and doclen, results unchanged
    from blazingsql_spark.sources import manifest as mf

    handler.max_postings_files = 1
    handler._compact_if_needed(2)  # epoch 2 is "current": epochs 0-1 fold
    man = mf.read_manifest(spark, str(tmp_path / "lexidx"))
    assert man is not None and man["bases"] == [-1] and man["min_epoch"] == 2
    for sub in ("postings", "doclen"):
        live = mf.read_live(spark, str(tmp_path / f"lexidx/{sub}"), man)
        assert len(live.inputFiles()) <= handler.postings_partitions
    after = [
        (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, str(tmp_path / "lexidx"), terms, k=15).collect()
    ]
    assert after == batch
    # a replay of an ALREADY-FOLDED epoch cannot resurface: its partition
    # is below min_epoch and not a base, so readers ignore it
    handler(b2, 1)
    replay_after_compact = [
        (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, str(tmp_path / "lexidx"), terms, k=15).collect()
    ]
    assert replay_after_compact == batch


def test_lexical_index_streaming_run_with_restart(spark, tmp_path):
    """The FULL streaming wiring, not just the handler: readStream →
    foreachBatch(LexicalIndexIngest) via run_ingest, then more
    source files land and a SECOND run resumes from the same checkpoint —
    Spark's own epoch numbering drives the per-epoch partitions, and the
    indexed probe equals batch BM25 over the union corpus."""
    from blazingsql_spark.functions.text import bm25_topk, bm25_topk_indexed
    from blazingsql_spark.streaming.ingest import LexicalIndexIngest, run_ingest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.filter("doc_id < 200").write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    index, ckpt = str(tmp_path / "lexidx"), str(tmp_path / "ckpt")
    terms = ["vector", "spark", "hash"]

    stream = spark.readStream.schema(schema).parquet(src)
    q = run_ingest(LexicalIndexIngest(spark, index), stream, ckpt)
    q.awaitTermination(120)

    # more documents arrive; a restarted stream (same checkpoint) must
    # ingest ONLY the new files, under a new epoch id
    docs.filter("doc_id >= 200").write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = run_ingest(LexicalIndexIngest(spark, index), stream2, ckpt)
    q2.awaitTermination(120)

    indexed = [
        (r.doc_id, r.bm25) for r in bm25_topk_indexed(spark, index, terms, k=15).collect()
    ]
    batch = [(r.doc_id, r.bm25) for r in bm25_topk(docs, terms, k=15).collect()]
    assert indexed == batch
    # two epochs → two epoch_id partitions on disk
    postings = spark.read.parquet(f"{index}/postings")
    epochs = {r.epoch_id for r in postings.select("epoch_id").distinct().collect()}
    assert len(epochs) == 2 and all(e >= 0 for e in epochs)


def test_bm25_indexed_reads_legacy_flat_index(spark, tmp_path):
    """A lexical index written by the pre-manifest flat layout has no
    epoch_id column; the probe must fall back to a plain read (ADVICE r4
    #2 — the unconditional live-partition filter raised AnalysisException
    on the missing column), and still equal batch BM25."""
    from pyspark.sql import functions as F

    from blazingsql_spark.functions.text import _tokens, bm25_topk, bm25_topk_indexed

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    toks = _tokens(docs, "doc_id", "text")
    # flat layout: postings(token, doc_id, tf) + doclen(doc_id, dl), no
    # epoch_id partitioning, no manifest
    idx = str(tmp_path / "flatidx")
    toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).write.parquet(
        f"{idx}/postings"
    )
    toks.groupBy("doc_id").agg(F.count("*").alias("dl")).write.parquet(
        f"{idx}/doclen"
    )
    terms = ["vector", "spark", "hash"]
    indexed = [
        (r.doc_id, r.bm25)
        for r in bm25_topk_indexed(spark, idx, terms, k=15).collect()
    ]
    batch = [(r.doc_id, r.bm25) for r in bm25_topk(docs, terms, k=15).collect()]
    assert indexed == batch and len(indexed) > 0


def test_manifest_crash_windows(spark, tmp_path):
    """Simulate every compaction crash window and assert readers always
    see a consistent index: (a) half-written base output before the
    manifest publish is invisible; (b) after the publish, superseded
    partitions are ignored even if GC never ran; (c) GC removes exactly
    the unreferenced directories; (d) a newer manifest version wins."""
    from pyspark.sql import functions as F

    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "idx")
    tdir = f"{root}/t"
    for epoch in (0, 1):
        (
            spark.range(10)
            .select("id", F.lit(epoch).alias("epoch_id"))
            .write.mode("append")
            .partitionBy("epoch_id")
            .parquet(tdir)
        )
    # (a) crash mid-compaction: a garbage base partition exists but no
    # manifest references it — readers (default view) must not see it
    spark.range(999).select("id").write.parquet(f"{tdir}/epoch_id=-1")
    assert mf.read_manifest(spark, root) is None
    live = mf.read_live(spark, tdir, None)
    assert live.count() == 20  # epochs 0+1 only, garbage invisible

    # (b) publish: base=-1 live, epochs < 1 superseded (epoch 0 folded)
    mf.write_manifest(spark, root, {"bases": [-1], "min_epoch": 1})
    man = mf.read_manifest(spark, root)
    assert man["version"] == 1 and man["bases"] == [-1]
    assert mf.read_live(spark, tdir, man).count() == 999 + 10  # base + epoch 1

    # (c) GC removes exactly the folded epoch 0, keeps base and epoch 1
    removed = mf.gc_partitions(spark, tdir, man)
    assert removed == 1
    assert mf.read_live(spark, tdir, man).count() == 999 + 10

    # (d) versioned publish: the next manifest supersedes, old is deleted
    mf.write_manifest(spark, root, {"bases": [-2], "min_epoch": 5})
    man2 = mf.read_manifest(spark, root)
    assert man2["version"] == 2 and man2["min_epoch"] == 5


def test_compaction_gate_ignores_dead_partitions(spark, tmp_path):
    """The compaction trigger must count LIVE data files only (ADVICE r4
    #3): relation-level DataFrame.inputFiles() ignores the partition
    filter, so superseded/garbage partitions awaiting GC would inflate
    the count and fire compaction before the documented live-file bound."""
    from pyspark.sql import functions as F

    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "idx")
    # 2 live epochs x 1 file each = 2 live files
    for epoch in (5, 6):
        (
            spark.range(10)
            .coalesce(1)
            .select("id", F.lit(epoch).alias("epoch_id"))
            .write.mode("append")
            .partitionBy("epoch_id")
            .parquet(root)
        )
    # 10 files of superseded garbage below min_epoch, never GC'd
    spark.range(100).repartition(10).write.parquet(f"{root}/epoch_id=1")
    mf.write_manifest(spark, root, {"bases": [], "min_epoch": 5})
    man = mf.read_manifest(spark, root)

    assert mf._live_file_count(spark, root, man) == 2
    # 2 live files <= max_files=4: must NOT compact even though the dead
    # partition pushes the relation-level file count to 12
    ran = mf.compact_epoch_tables(
        spark, root, {"": lambda df: df}, epoch=7, max_files=4
    )
    assert ran is False
    # and with the bound below the live count it does compact
    ran = mf.compact_epoch_tables(
        spark, root, {"": lambda df: df}, epoch=7, max_files=1
    )
    assert ran is True
    man2 = mf.read_manifest(spark, root)
    # folded base holds the committed live epochs (20 rows); current
    # epoch 7 had no data; superseded garbage stayed invisible
    assert mf.read_live(spark, root, man2).count() == 20


def test_dedup_ingest_replay_idempotent(spark, tmp_path):
    """At-least-once replay of a dedup-ingest epoch must be a no-op, NOT a
    self-wipe: the replayed batch's signatures are already in the index,
    so without excluding the current epoch from the dedup reference every
    replayed doc would match ITSELF, be dropped as a duplicate, and the
    epoch's corpus partition would be overwritten with nothing."""
    from blazingsql_spark.streaming.ingest import DedupIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter("doc_id < 30")
    b2 = docs.filter("doc_id >= 30 AND doc_id < 60")

    handler = DedupIngest(spark, str(tmp_path / "index"), str(tmp_path / "corpus"))
    handler(b1, 0)
    handler(b2, 1)
    before = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).select("doc_id").collect()
    )
    # replay epoch 1 (crash before checkpoint commit -> redelivery)
    handler(b2, 1)
    after = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "corpus")).select("doc_id").collect()
    )
    assert after == before  # no loss, no duplication
    assert any(i >= 30 for i in after)  # epoch 1 docs still present


def test_asof_join_stream_matches_batch(spark):
    """Streaming as-of twin: purchases pick the latest prior view (per
    user, within 1 hour) — must equal the batch as-of join
    (operators.asof.asof_join backward+tolerance) on every left event the
    watermark finalized; batch NULL-match rows are exactly the left
    events the streaming inner compose omits."""
    from blazingsql_spark.operators.asof import asof_join

    base = st.stream_events(spark, SF_DIR)
    purchases = base.filter("event_type = 'purchase'")
    views = base.filter("event_type = 'view'")
    got = st.run_to_memory(
        spark, st.asof_join_stream(purchases, views, tolerance="1 hour"), "t_asof"
    )

    ev = load_table(spark, SF_DIR, "events")
    bp = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    bv = ev.filter("event_type = 'view'").select("user_id", "ts", "value")
    want = asof_join(
        bp,
        bv,
        on="ts",
        by=["user_id"],
        right_value_cols=["value"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    # watermark finalization: only left events safely below
    # max_ts - watermark(2h) are guaranteed emitted by the stream
    cutoff = ev.agg(F.max("ts")).first()[0]
    bound = F.lit(cutoff) - F.expr("INTERVAL 2 HOURS") - F.expr("INTERVAL 1 MINUTE")

    got_rows = {
        r.event_id: round(r.matched_value, 6)
        for r in got.filter(F.col("ts") <= bound).collect()
    }
    want_matched = {
        r.event_id: round(r.value, 6)
        for r in want.filter((F.col("ts") <= bound) & F.col("value").isNotNull()).collect()
    }
    assert got_rows == want_matched
    assert len(got_rows) > 0
    # the omitted left events are exactly the batch NULL matches
    n_left = bp.filter(F.col("ts") <= bound).count()
    n_null = want.filter((F.col("ts") <= bound) & F.col("value").isNull()).count()
    assert len(got_rows) == n_left - n_null


def test_asof_join_stream_duplicate_ts_tiebreak(spark, tmp_path):
    """Exact duplicate (by, ts) right rows with DIFFERING values: both
    twins must pick the same row. The contract is 'greatest
    xxhash64(value_cols)' — Spark's xxhash64 already seeds with 42, so
    hashing an extra literal 42 (the pre-fix streaming code) computes a
    different hash function and the twins can diverge on ties (ADVICE r4
    #1). The batch operator is the oracle; no hardcoded winner."""
    from datetime import datetime as dt

    from pyspark.sql import types as T

    from blazingsql_spark.operators.asof import asof_join

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # right: three exact ties at 10:00 + a decoy earlier row, two users;
    # flush rows at 20:00 push the watermark past the rows under test
    right_rows = [
        (900, dt(2024, 1, 1, 9, 30), 1, 1.25),
        (901, dt(2024, 1, 1, 10, 0), 1, 5.5),
        (902, dt(2024, 1, 1, 10, 0), 1, 7.75),
        (903, dt(2024, 1, 1, 10, 0), 1, 3.125),
        (904, dt(2024, 1, 1, 10, 0), 2, 8.5),
        (905, dt(2024, 1, 1, 10, 0), 2, 2.25),
        (998, dt(2024, 1, 1, 20, 0), 99, 0.0),
    ]
    left_rows = [
        (100, dt(2024, 1, 1, 10, 30), 1, 0.0),
        (101, dt(2024, 1, 1, 10, 30), 2, 0.0),
        (999, dt(2024, 1, 1, 20, 0), 99, 0.0),
    ]
    ldir, rdir = str(tmp_path / "left"), str(tmp_path / "right")
    spark.createDataFrame(left_rows, schema).write.parquet(ldir)
    spark.createDataFrame(right_rows, schema).write.parquet(rdir)

    got = st.run_to_memory(
        spark,
        st.asof_join_stream(
            spark.readStream.schema(schema).parquet(ldir),
            spark.readStream.schema(schema).parquet(rdir),
            tolerance="1 hour",
        ),
        "t_asof_tie",
    )
    got_vals = {
        r.event_id: r.matched_value
        for r in got.filter(F.col("event_id").isin(100, 101)).collect()
    }

    bl = spark.createDataFrame(left_rows, schema).select("event_id", "user_id", "ts")
    br = spark.createDataFrame(right_rows, schema).select("user_id", "ts", "value")
    want = asof_join(
        bl,
        br,
        on="ts",
        by=["user_id"],
        right_value_cols=["value"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    want_vals = {
        r.event_id: r.value
        for r in want.filter(F.col("event_id").isin(100, 101)).collect()
    }
    assert set(got_vals) == {100, 101}
    assert got_vals == want_vals
    # and the winner is one of the tied 10:00 rows, not the 9:30 decoy
    assert got_vals[100] in (5.5, 7.75, 3.125)
    assert got_vals[101] in (8.5, 2.25)


def test_asof_join_stream_checkpoint_restart(spark, tmp_path):
    """Chained-stateful-operator state must survive a checkpoint restart:
    run the streaming as-of twin over the first half of the data, stop
    cleanly, land more source files, restart FROM THE SAME CHECKPOINT,
    and the union of both runs' outputs must equal the batch as-of join
    on every watermark-finalized left event — no lost matches (state
    forgotten) and no duplicates (batches reprocessed)."""
    from datetime import datetime as dt, timedelta

    from pyspark.sql import types as T

    from blazingsql_spark.operators.asof import asof_join

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    base = dt(2024, 3, 1, 0, 0)
    # right rows every 20 min, left rows offset by 5 min, 3 users, 8 hours
    right_rows = [
        (1000 + i, base + timedelta(minutes=20 * i), i % 3, float(i))
        for i in range(24)
    ]
    left_rows = [
        (i, base + timedelta(minutes=20 * i + 5), i % 3, 0.0) for i in range(24)
    ]
    half = base + timedelta(hours=4)
    ldir, rdir, ckpt = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "ck")

    def land(rows, path):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)

    land([r for r in left_rows if r[1] < half], ldir)
    land([r for r in right_rows if r[1] < half], rdir)

    outdir = str(tmp_path / "out")

    def run_once():
        # file sink, NOT memory: the memory sink refuses checkpoint
        # recovery ("does not support recovering from checkpoint
        # location"); the parquet sink is the exactly-once restart path
        out = st.asof_join_stream(
            spark.readStream.schema(schema).parquet(ldir),
            spark.readStream.schema(schema).parquet(rdir),
            tolerance="1 hour",
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(outdir).collect()

    got1 = run_once()
    land([r for r in left_rows if r[1] >= half], ldir)
    land([r for r in right_rows if r[1] >= half], rdir)
    got_all = run_once()

    bl = spark.createDataFrame(left_rows, schema).select("event_id", "user_id", "ts")
    br = spark.createDataFrame(right_rows, schema).select("user_id", "ts", "value")
    want = asof_join(
        bl, br, on="ts", by=["user_id"], right_value_cols=["value"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    cutoff = max(r[1] for r in right_rows + left_rows)
    # chained stateful ops: the interval join delays the output watermark
    # by the tolerance range, so the aggregation finalizes left events up
    # to max_ts - watermark(2h) - tolerance(1h) only
    bound = cutoff - timedelta(hours=3, minutes=1)
    # duplicates would surface as extra rows before dict collapse
    finalized = [r for r in got_all if r.ts <= bound]
    got = {r.event_id: r.matched_value for r in finalized}
    want_rows = {
        r.event_id: r.value
        for r in want.collect()
        if r.ts <= bound and r.value is not None
    }
    assert len(got1) > 0  # run 1 emitted something before the restart
    assert len(got_all) > len(got1)  # run 2 continued from state
    assert len(finalized) == len(got)  # exactly-once: no duplicate emits
    assert got == want_rows and len(got) > 0  # no lost matches either


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_components_ingest_incremental_and_replay_idempotent(spark, tmp_path):
    """ComponentsIngest: labels after each epoch equal full CC over the
    cumulative edges; replaying an epoch (at-least-once redelivery) is a
    no-op by closure algebra; a fresh handler (restart) resumes from the
    latest snapshot; old snapshots are pruned."""
    from blazingsql_spark.operators.graph import connected_components
    from blazingsql_spark.sources import manifest as mf
    from blazingsql_spark.streaming.ingest import ComponentsIngest

    batches = [
        [(1, 2), (3, 4)],
        [(2, 3), (10, 11)],   # merges {1,2} with {3,4}
        [(0, 10)],            # new min for {10,11}
    ]
    h = ComponentsIngest(spark, str(tmp_path / "labels"), keep_snapshots=2)
    seen = []
    for epoch, batch in enumerate(batches):
        seen += batch
        h(spark.createDataFrame(batch, ["src", "dst"]), epoch)
        got = sorted(map(tuple, h.read_labels().collect()))
        want = sorted(
            map(tuple, connected_components(spark.createDataFrame(seen, ["src", "dst"])).collect())
        )
        assert got == want, f"epoch {epoch}"

    before = sorted(map(tuple, h.read_labels().collect()))
    # replay the last epoch: same edges against already-merged labels
    h(spark.createDataFrame(batches[-1], ["src", "dst"]), 2)
    assert sorted(map(tuple, h.read_labels().collect())) == before

    # restart: a fresh handler sees the same state and keeps going
    h2 = ComponentsIngest(spark, str(tmp_path / "labels"), keep_snapshots=2)
    h2(spark.createDataFrame([(4, 20)], ["src", "dst"]), 3)
    want = sorted(
        map(
            tuple,
            connected_components(
                spark.createDataFrame(seen + [(4, 20)], ["src", "dst"])
            ).collect(),
        )
    )
    assert sorted(map(tuple, h2.read_labels().collect())) == want
    assert len(mf.snapshot_epochs(spark, h2.labels_path)) <= 2  # pruned


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_dedup_cluster_ingest_transitive_across_epochs(spark, tmp_path):
    """DedupClusterIngest: filtered duplicates stay traceable to their
    canonical corpus doc across epochs, including TRANSITIVE links (doc C
    dups doc B which dupped doc A in an earlier epoch -> A, B, C share a
    component); singletons carry no label; replay is a no-op."""
    from blazingsql_spark.streaming.ingest import DedupClusterIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter("doc_id < 30")
    # epoch 1: two exact copies of doc 3 (in-batch pair among themselves +
    # cross-epoch pair to 3), one fresh doc
    c1 = b1.filter("doc_id = 3").select(F.lit(5001).cast("long").alias("doc_id"), "text")
    c2 = b1.filter("doc_id = 3").select(F.lit(5002).cast("long").alias("doc_id"), "text")
    fresh = spark.createDataFrame(
        [(6000, " ".join(f"q{j}r{j}" for j in range(25)))], ["doc_id", "text"]
    )
    h = DedupClusterIngest(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus"),
        labels_path=str(tmp_path / "labels"),
    )
    h(b1, 0)
    h(c1.union(c2).union(fresh), 1)
    # epoch 2: another copy of doc 3 — transitively joins the same cluster
    c3 = b1.filter("doc_id = 3").select(F.lit(5003).cast("long").alias("doc_id"), "text")
    h(c3, 2)

    labels = {r.node: r.component_id for r in h.cluster_labels().collect()}
    assert labels.get(5001) == 3 and labels.get(5002) == 3 and labels.get(5003) == 3
    assert 6000 not in labels  # singleton: absent from the labels table

    before = sorted(labels.items())
    h(c3, 2)  # at-least-once replay of the last epoch
    after = sorted((r.node, r.component_id) for r in h.cluster_labels().collect())
    assert after == before


def test_dedup_cluster_smaller_id_late_duplicate(spark, tmp_path):
    """A later-arriving duplicate with a SMALLER id than the retained
    corpus doc: the cluster id becomes the smaller (filtered) id — the
    documented cluster-identifier contract — and joining members against
    the corpus still finds the retained representative."""
    from blazingsql_spark.streaming.ingest import DedupClusterIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    first = docs.filter("doc_id = 100")  # epoch 0 retains doc 100
    late_twin = first.select(F.lit(7).cast("long").alias("doc_id"), "text")
    h = DedupClusterIngest(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus"),
        labels_path=str(tmp_path / "labels"),
    )
    h(first, 0)
    h(late_twin, 1)
    labels = {r.node: r.component_id for r in h.cluster_labels().collect()}
    assert labels == {7: 7, 100: 7}  # cluster id = min member, NOT corpus id
    corpus_ids = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert 100 in corpus_ids and 7 not in corpus_ids  # retention by arrival
    # retained representative of the cluster via the documented join
    members = {n for n, c in labels.items() if c == 7}
    assert members & corpus_ids == {100}


def test_dedup_ingest_in_batch_keep_is_min_id(spark, tmp_path):
    """In-batch exact duplicates must retain the MIN id (deterministic —
    dropDuplicates kept an arbitrary row, which broke replay idempotence
    and contradicted the cluster edges)."""
    from blazingsql_spark.streaming.ingest import DedupClusterIngest

    text = " ".join(f"mm{j}nn" for j in range(25))
    batch = spark.createDataFrame(
        [(905, text), (901, text), (903, text)], ["doc_id", "text"]
    )
    h = DedupClusterIngest(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus"),
        labels_path=str(tmp_path / "labels"),
    )
    h(batch, 0)
    corpus_ids = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert corpus_ids == {901}
    labels = {r.node: r.component_id for r in h.cluster_labels().collect()}
    # all three cluster together under the min id (the kept doc is an
    # edge endpoint, so it carries its own label too)
    assert labels == {901: 901, 903: 901, 905: 901}


def test_bloom_corpus_ingest_exact_dedup_and_replay(spark, tmp_path):
    """Bloom-screened exact-dedup ingest: cross-epoch exact duplicates are
    dropped (bloom hit -> fp-verified), novel docs always land (bloom
    FALSE is a no-false-negative guarantee), in-batch dups keep min id,
    and an at-least-once replay is a no-op because a replaying epoch
    excludes its own words/fps partitions from the reference."""
    from blazingsql_spark.streaming.ingest import BloomCorpusIngest

    handler = BloomCorpusIngest(
        spark, str(tmp_path / "screen"), str(tmp_path / "corpus"), n_bits=1 << 14
    )
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "beta"), (13, "delta")],
        ["doc_id", "text"],
    )
    b3 = spark.createDataFrame(
        [(20, "gamma"), (21, "epsilon")], ["doc_id", "text"]
    )
    handler(b1, 0)
    handler(b2, 1)
    handler(b3, 2)
    got = {r.doc_id: r.text for r in handler.read_corpus().collect()}
    # epoch 0: min-id per text (1 wins over 3); later epochs: only novel texts
    assert got == {1: "alpha", 2: "beta", 11: "gamma", 13: "delta", 21: "epsilon"}
    # replay epoch 1 -> identical corpus (decision made against history
    # EXCLUDING epoch 1's own partitions)
    handler(b2, 1)
    again = {r.doc_id: r.text for r in handler.read_corpus().collect()}
    assert again == got
    # a fresh handler over the same paths (restart) still screens correctly
    restarted = BloomCorpusIngest(
        spark, str(tmp_path / "screen"), str(tmp_path / "corpus"), n_bits=1 << 14
    )
    b4 = spark.createDataFrame([(30, "beta"), (31, "zeta")], ["doc_id", "text"])
    restarted(b4, 3)
    final = {r.doc_id: r.text for r in restarted.read_corpus().collect()}
    assert 31 in final and 30 not in final


def test_bloom_corpus_ingest_compaction_preserves_screen(spark, tmp_path):
    """After word/fp compaction folds committed epochs into a base
    partition, the merged filter must still reject every previously seen
    text and admit novel ones."""
    from blazingsql_spark.streaming.ingest import BloomCorpusIngest

    handler = BloomCorpusIngest(
        spark,
        str(tmp_path / "screen"),
        str(tmp_path / "corpus"),
        n_bits=1 << 14,
        max_index_files=1,  # force compaction every epoch
    )
    for e in range(4):
        handler(
            spark.createDataFrame(
                [(100 * e + i, f"doc {e} {i}") for i in range(5)]
                + [(100 * e + 50, "repeated across epochs")],
                ["doc_id", "text"],
            ),
            e,
        )
    texts = [r.text for r in handler.read_corpus().collect()]
    assert len(texts) == len(set(texts))  # no text ever admitted twice
    assert texts.count("repeated across epochs") == 1
    assert sorted(t for t in texts if t.startswith("doc 3")) == [
        f"doc 3 {i}" for i in range(5)
    ]


def test_forget_documents_propagates_and_is_idempotent(spark, tmp_path):
    """Erasure must reach corpus AND derived index state, rewrite only the
    partitions that contain targets, be idempotent — and semantically
    free the content: a re-submission of a FORGOTTEN text must be
    admitted by the dedup screen, while a copy of a remaining text stays
    blocked."""
    import os

    from blazingsql_spark.operators.forget import forget_documents
    from blazingsql_spark.streaming.ingest import DedupIngest

    index, corpus = str(tmp_path / "index"), str(tmp_path / "corpus")
    handler = DedupIngest(spark, index, corpus)
    handler(
        spark.createDataFrame(
            [(1, "erase me please now"), (2, "keep me around forever")],
            ["doc_id", "text"],
        ),
        0,
    )
    handler(
        spark.createDataFrame(
            [(10, "later batch content here")], ["doc_id", "text"]
        ),
        1,
    )

    def listing(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    epoch1_before = {
        p: s for p, s in listing(corpus).items() if "epoch_id=1" in p
    }
    ids = spark.createDataFrame([(1,)], ["doc_id"])
    removed = forget_documents(
        spark, ids, {corpus: "doc_id", index: "doc_id"}
    )
    assert removed[corpus] == 1 and removed[index] > 0
    left = spark.read.parquet(corpus)
    assert left.filter("doc_id = 1").count() == 0
    assert spark.read.parquet(index).filter("doc_id = 1").count() == 0
    assert left.filter("doc_id = 2").count() == 1  # co-resident row kept
    # untouched epoch's files are byte-identical (never rewritten)
    epoch1_after = {
        p: s for p, s in listing(corpus).items() if "epoch_id=1" in p
    }
    assert epoch1_after == epoch1_before
    # idempotent
    again = forget_documents(spark, ids, {corpus: "doc_id", index: "doc_id"})
    assert again == {corpus: 0, index: 0}
    # semantic proof: forgotten text re-admits, remaining text stays blocked
    handler(
        spark.createDataFrame(
            [(20, "erase me please now"), (21, "keep me around forever")],
            ["doc_id", "text"],
        ),
        2,
    )
    final = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert 20 in final  # forgotten content no longer blocks re-submission
    assert 21 not in final  # surviving content still dedups


def test_forget_erases_fully_targeted_epoch_partition(spark, tmp_path):
    """An epoch whose rows are ALL forget targets has zero survivors, so
    dynamic overwrite alone would never rewrite it — the partition
    directory itself must be deleted, and the table must keep working."""
    from blazingsql_spark.operators.forget import forget_documents
    from blazingsql_spark.sources.manifest import write_epoch_partition

    t = str(tmp_path / "t")
    write_epoch_partition(
        spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"]), t, 0
    )
    write_epoch_partition(
        spark.createDataFrame([(3, "c")], ["doc_id", "text"]), t, 1
    )
    ids = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    assert forget_documents(spark, ids, {t: "doc_id"}) == {t: 2}
    left = spark.read.parquet(t)
    assert {r.doc_id for r in left.collect()} == {3}
    assert left.filter("epoch_id = 0").count() == 0
    # idempotent after the full-partition deletion
    assert forget_documents(spark, ids, {t: "doc_id"}) == {t: 0}


def test_pca_ingest_is_exactly_mergeable(spark, tmp_path):
    """Streaming PCA maintainer: after two epochs the persisted model is
    IDENTICAL (to float ulps) to a batch fit on the union — the mergeable
    moment sketch makes the streaming path exact, not approximate. Drift
    telemetry accumulates one row per epoch, and a restarted handler
    resumes from the on-disk sketch."""
    import numpy as np

    from blazingsql_spark.functions.ml import pca_fit
    from blazingsql_spark.queries.registry import load_table
    from blazingsql_spark.streaming.ingest import PcaIngest

    emb = load_table(spark, SF_DIR, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pca")
    handler = PcaIngest(spark, path, k=4)
    handler(a, 0)
    fresh = PcaIngest(spark, path, k=4)  # restart: resumes from disk
    fresh(b, 1)
    got = fresh.load_model()
    want = pca_fit(emb, k=4)
    assert got["n"] == want["n"]
    assert np.allclose(got["components"], want["components"], atol=1e-9)
    assert np.allclose(got["eigvals"], want["eigvals"], atol=1e-9)
    assert abs(got["total_var"] - want["total_var"]) < 1e-9
    drift = spark.read.parquet(f"{path}/drift").orderBy("epoch_id").collect()
    assert [r.epoch_id for r in drift] == [0, 1]
    assert drift[0].top_angle_deg == 0.0  # first epoch has no predecessor
    assert 0 <= drift[1].top_angle_deg <= 90.0
    assert 0 < drift[1].evr <= 1.0
    # at-least-once replay: re-delivering epoch 1 must NOT absorb the
    # batch twice (moment addition is not idempotent by algebra — the
    # snapshot discipline makes it so) and must not duplicate drift rows
    fresh(b, 1)
    replayed = fresh.load_model()
    assert replayed["n"] == want["n"]
    assert np.allclose(replayed["components"], want["components"], atol=1e-9)
    drift2 = spark.read.parquet(f"{path}/drift").collect()
    assert len(drift2) == 2
    # empty micro-batch: skipped outright, no state change, no drift row
    fresh(emb.filter(F.col("vec_id") < 0), 2)
    assert fresh.load_model()["n"] == want["n"]
    assert spark.read.parquet(f"{path}/drift").count() == 2
    # torn snapshot (no _SUCCESS) is skipped by the reader
    import pathlib

    from blazingsql_spark.sources import manifest as mf

    torn = pathlib.Path(mf.snapshot_dir(f"{path}/moments", 9))
    torn.mkdir(parents=True)
    assert mf.snapshot_epochs(spark, f"{path}/moments")[-1] != 9


def test_pca_ingest_via_streaming_query(spark, tmp_path):
    """PcaIngest wired into a real writeStream/foreachBatch query over the
    file source: the final model matches the batch fit."""
    import numpy as np

    from blazingsql_spark.functions.ml import pca_fit
    from blazingsql_spark.queries.registry import load_table
    from blazingsql_spark.streaming.ingest import PcaIngest, run_ingest

    emb_b = load_table(spark, SF_DIR, "embeddings")
    src = str(tmp_path / "src")
    emb_b.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(emb_b.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    handler = PcaIngest(spark, str(tmp_path / "model"), k=4)
    run_ingest(handler, stream, str(tmp_path / "ckpt")).awaitTermination()
    got = handler.load_model()
    want = pca_fit(emb_b, k=4)
    assert got["n"] == want["n"]
    assert np.allclose(got["components"], want["components"], atol=1e-8)


def _cdc_log(spark):
    """Synthetic orders CDC log with inserts, multi-version updates,
    deletes, and a same-version U|D collision (the delete-wins tie)."""
    from blazingsql_spark.queries.registry import load_table

    base = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )

    def chg(mod, mult, op, version):
        return base.filter(F.col("o_orderkey") % mod == 0).select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") * mult).alias("o_totalprice"),
        ).withColumn("op", F.lit(op)).withColumn("version", F.lit(version))

    snapshot = base
    log = (
        chg(7, 3.0, "U", 1)
        .unionByName(chg(14, None, "D", 2).withColumn("o_totalprice", F.lit(None).cast("double")))
        .unionByName(chg(21, 5.0, "U", 2))
        .unionByName(chg(42, None, "D", 2).withColumn("o_totalprice", F.lit(None).cast("double")))
    )
    return snapshot, log


def test_cdc_apply_ingest_matches_batch_and_replays(spark, tmp_path):
    """Streaming CDC maintainer: applying the log split across two epochs
    (version order) yields exactly the batch cdc_apply of the full log;
    a replayed epoch rewrites an identical snapshot (idempotent by
    algebra); a restarted handler resumes from the published snapshot."""
    from blazingsql_spark.operators.merge import cdc_apply
    from blazingsql_spark.streaming.ingest import CdcApplyIngest

    snapshot, log = _cdc_log(spark)
    path = str(tmp_path / "cdc")
    h = CdcApplyIngest(spark, path, ["o_orderkey"])
    # epoch 0 seeds the state with the initial snapshot as inserts
    seed = snapshot.withColumn("op", F.lit("I")).withColumn("version", F.lit(0))
    h(seed, 0)
    h(log.filter(F.col("version") == 1), 1)
    fresh = CdcApplyIngest(spark, path, ["o_orderkey"])  # restart
    fresh(log.filter(F.col("version") == 2), 2)
    got = fresh.read_snapshot().orderBy("o_orderkey").collect()
    want = cdc_apply(snapshot, log, ["o_orderkey"]).orderBy("o_orderkey").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # replay of the last epoch: identical snapshot
    fresh(log.filter(F.col("version") == 2), 2)
    again = fresh.read_snapshot().orderBy("o_orderkey").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_cdc_apply_ingest_via_streaming_query(spark, tmp_path):
    """CdcApplyIngest over a real file-source stream (seed file then
    change file, version-ordered): final snapshot equals batch
    cdc_apply."""
    import time

    from blazingsql_spark.operators.merge import cdc_apply
    from blazingsql_spark.streaming.ingest import CdcApplyIngest, run_ingest

    snapshot, log = _cdc_log(spark)
    src = str(tmp_path / "src")
    seed = snapshot.withColumn("op", F.lit("I")).withColumn("version", F.lit(0))
    seed.coalesce(1).write.parquet(f"{src}/a")
    time.sleep(1.1)  # file source orders by modification time
    log.coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.format("parquet")
        .schema(seed.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    h = CdcApplyIngest(spark, str(tmp_path / "snap"), ["o_orderkey"])
    run_ingest(h, stream, str(tmp_path / "ckpt")).awaitTermination()
    got = h.read_snapshot().orderBy("o_orderkey").collect()
    want = cdc_apply(snapshot, log, ["o_orderkey"]).orderBy("o_orderkey").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_manifest_time_travel(spark, tmp_path):
    """Time travel over retained manifests: an as-of read reproduces the
    exact historical view (later epochs and later bases excluded), the
    current view still sees everything, retention-aware gc keeps the old
    version's partitions alive, and an unretained version raises."""
    import pytest

    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "tt")
    t = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    mf.write_epoch_partition(t([(1, "a")]), root, 0)
    mf.write_epoch_partition(t([(2, "b")]), root, 1)
    # v1: snapshot over epochs 0..1
    mf.write_manifest(
        spark, root, {"bases": [], "min_epoch": 0, "max_epoch": 1},
        keep_manifests=3,
    )
    mf.write_epoch_partition(t([(3, "c")]), root, 2)
    # compact (force: max_files=0) with retention — folds 0..1 into base
    # -2 (= -(prev_version+1)), current epoch 2 stays raw
    ran = mf.compact_epoch_tables(
        spark, root, {"": lambda df: df.coalesce(1)}, epoch=2, max_files=0,
        keep_manifests=3,
    )
    assert ran
    assert mf.list_manifest_versions(spark, root) == [1, 2]
    # current view: all three rows
    cur = mf.read_live(spark, root, mf.read_manifest(spark, root))
    assert sorted(r.k for r in cur.collect()) == [1, 2, 3]
    # as-of v1: exactly the historical rows — epoch 2 and base -2 excluded
    old = mf.read_live_as_of(spark, root, root, version=1)
    assert sorted(r.k for r in old.collect()) == [1, 2]
    # retention-aware gc kept v1's raw epochs on disk
    import os

    names = set(os.listdir(root))
    assert "epoch_id=0" in names and "epoch_id=1" in names
    with pytest.raises(ValueError, match="not found"):
        mf.read_manifest(spark, root, version=99)
    # default retention (keep_manifests=1) prunes v1/v2 on the next publish
    mf.write_manifest(spark, root, {"bases": [], "min_epoch": 0})
    assert mf.list_manifest_versions(spark, root) == [3]


def test_parquet_probe_distinguishes_absent_from_broken(spark, tmp_path):
    """The index/screen existence probes must treat ONLY genuine absence
    (path never created, or created-but-empty) as 'no index yet'. A
    corrupt or unreadable dataset must fail the epoch loudly — swallowing
    it would silently disable the dedup screen and append known
    duplicates to the corpus forever (ADVICE r8)."""
    import pytest

    from blazingsql_spark.streaming.ingest import BloomCorpusIngest, _parquet_readable

    # absent path and empty directory: legitimate "not yet" cases. The
    # absent path is answered without a Spark read, which would log a WARN
    # with a FileNotFoundException trace on every first epoch.
    def no_read(_):
        raise AssertionError("absent path probed through spark.read")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark), "read", property(no_read))
        assert not _parquet_readable(spark, str(tmp_path / "never_created"))
    (tmp_path / "empty").mkdir()
    assert not _parquet_readable(spark, str(tmp_path / "empty"))

    # corrupt footer: must raise, not report absence
    broken = tmp_path / "screen" / "words"
    broken.mkdir(parents=True)
    (broken / "part-00000.parquet").write_bytes(b"not parquet" * 64)
    with pytest.raises(Exception, match="(?i)footer|parquet"):
        _parquet_readable(spark, str(broken))

    # and the handler path: a fresh BloomCorpusIngest over the corrupted
    # screen must fail the batch instead of ingesting unscreened
    handler = BloomCorpusIngest(
        spark, str(tmp_path / "screen"), str(tmp_path / "corpus")
    )
    batch = spark.createDataFrame([(1, "alpha")], ["doc_id", "text"])
    with pytest.raises(Exception, match="(?i)footer|parquet"):
        handler(batch, 0)


def test_forget_manifest_gates_scan_and_count_to_live_partitions(spark, tmp_path):
    """On a compacted table, forget must not scan/rewrite superseded
    gc-pending epochs nor count their rows in 'removed' (ADVICE r8): the
    live view's copy of a target lives in the base partition; the dead
    raw epoch belongs to gc_partitions."""
    from blazingsql_spark.operators.forget import forget_from_epoch_table
    from blazingsql_spark.sources import manifest as mf

    root = str(tmp_path / "t")

    def t(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    # raw epochs 0..1, then a base -1 holding their compacted content
    mf.write_epoch_partition(t([(1, "a"), (2, "b")]), root, 0)
    mf.write_epoch_partition(t([(3, "c")]), root, 1)
    mf.write_epoch_partition(t([(1, "a"), (2, "b"), (3, "c")]), root, -1)
    man = {"bases": [-1], "min_epoch": 2, "max_epoch": 1}

    ids = spark.createDataFrame([(1,)], ["doc_id"])
    removed = forget_from_epoch_table(spark, root, ids, "doc_id", manifest=man)
    # live view had exactly ONE copy of doc 1 (in base -1); ungated this
    # reported 2 (base + dead epoch 0)
    assert removed == 1
    live = mf.read_live(spark, root, man)
    assert sorted(r.doc_id for r in live.collect()) == [2, 3]
    # the dead epoch was not rewritten: its files still hold doc 1
    dead = spark.read.parquet(f"{root}/epoch_id=0")
    assert sorted(r.doc_id for r in dead.collect()) == [1, 2]
    # ungated call still cleans everything (legacy behavior preserved)
    removed2 = forget_from_epoch_table(spark, root, ids, "doc_id")
    assert removed2 == 1  # the dead-partition copy


def test_quantile_sketch_ingest_equals_batch_and_replays(spark, tmp_path):
    """Streaming DDSketch maintainer: the merged sketch over all stream
    epochs must equal the batch sketch on the union BUCKET FOR BUCKET
    (exact mergeability is the operator's contract, so the streaming
    twin is an equality test, not a tolerance test); an at-least-once
    replay of an epoch overwrites its partition and changes nothing;
    and quantile queries come off the merged sketch."""
    import math

    from blazingsql_spark.functions import sketches
    from blazingsql_spark.streaming.ingest import QuantileSketchIngest, run_ingest

    rows = [(float(i % 97) + 0.5,) for i in range(3000)]
    df = spark.createDataFrame(rows, "v double")
    src = str(tmp_path / "src")
    # three files -> maxFilesPerTrigger gives multiple micro-batches
    for i in range(3):
        df.filter((F.col("v") * 2).cast("long") % 3 == i).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")
    schema = "v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part*")
    )
    sketch_path = str(tmp_path / "sketch")
    q = run_ingest(
        QuantileSketchIngest(spark, sketch_path, value_col="v"),
        stream,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    handler = QuantileSketchIngest(spark, sketch_path, "v")
    got = sorted(map(tuple, handler.read_sketch().collect()))
    want = sorted(
        map(tuple, sketches.ddsketch_build(df, "v").collect())
    )
    assert got == want  # bucket-for-bucket equality with the batch build

    est = {r.q: r.est for r in handler.quantiles([0.5, 0.9]).collect()}
    xs = sorted(v for v, in rows)
    for qq in (0.5, 0.9):
        exact = xs[min(len(xs) - 1, math.ceil(qq * len(xs)) - 1)]
        assert abs(est[qq] - exact) / exact <= 0.011, (qq, est[qq], exact)

    # at-least-once redelivery: processing the SAME batch at the same
    # epoch twice must not double-count (the epoch overwrite is the
    # idempotence mechanism — counts are additive, so append would not be)
    extra = spark.read.parquet(f"{src}/part0")
    handler(extra, 99)
    after_once = sorted(map(tuple, handler.read_sketch().collect()))
    handler(extra, 99)
    assert sorted(map(tuple, handler.read_sketch().collect())) == after_once
    assert after_once != want  # the new epoch genuinely added counts


@pytest.mark.slow  # soak/randomized long-tail: nightly tier (r13, driver verify budget)
def test_top_k_ingest_equals_batch_and_replays(spark, tmp_path):
    """Streaming top-k maintainer: (1) small-cardinality stream — the
    maintainer's top-k equals the exact batch top-k item for item and
    count for count (no evictions, md5-CMS collision-free at this
    cardinality); (2) capacity pressure — 500 uniform ids + 5 planted
    heavy ids with capacity 64: the heavy set is recovered exactly and
    estimates never undercount; (3) at-least-once replay of an epoch
    changes nothing (epoch overwrite, the additive-counts discipline)."""
    from blazingsql_spark.streaming.ingest import TopKIngest, run_ingest

    rows = []
    for i in range(3000):
        rows.append((i, f"u{i % 7}"))  # skewed small-cardinality stream
    df = spark.createDataFrame(rows, "idx long, item string")
    src = str(tmp_path / "src_topk")
    for i in range(3):
        df.filter(F.col("idx") % 3 == i).select("item").write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")
    # deterministic three-file split of the same logical stream
    parts = [spark.read.parquet(f"{src}/part{i}") for i in range(3)]
    union = parts[0].unionAll(parts[1]).unionAll(parts[2])

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part*")
    )
    path = str(tmp_path / "topk")
    q = run_ingest(
        TopKIngest(spark, path, col="item"), stream, str(tmp_path / "ckpt_topk")
    )
    q.awaitTermination(120)

    handler = TopKIngest(spark, path, "item")
    got = [(r.item, r.est) for r in handler.read_topk(5).collect()]
    want = [
        (r.item, r.cnt)
        for r in union.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "item")
        .limit(5)
        .collect()
    ]
    assert got == want  # exact at this cardinality

    # at-least-once redelivery: same batch, same epoch, twice -> no change
    extra = spark.read.parquet(f"{src}/part0")
    handler(extra, 99)
    after_once = [(r.item, r.est) for r in handler.read_topk(5).collect()]
    handler(extra, 99)
    assert [(r.item, r.est) for r in handler.read_topk(5).collect()] == after_once
    assert after_once != got  # the new epoch genuinely added counts

    # capacity pressure: 500-id uniform background + 5 planted heavies
    heavy = [f"hot{i}" for i in range(5)]
    rows2 = [(i, f"bg{i % 500}") for i in range(2500)] + [
        (2500 + j, h) for j, h in enumerate(h for h in heavy for _ in range(200))
    ]
    df2 = spark.createDataFrame(rows2, "idx long, item string")
    h2 = TopKIngest(spark, str(tmp_path / "topk2"), "item", capacity=64)
    # EVERY item (heavies included) split across both epochs, so the
    # candidate-set union + cross-epoch CMS merge is what recovers them
    e0 = df2.filter(F.col("idx") % 2 == 0).select("item")
    e1 = df2.filter(F.col("idx") % 2 == 1).select("item")
    assert e0.count() > 0 and e1.count() > 0
    h2(e0, 0)
    h2(e1, 1)
    top5 = h2.read_topk(5).collect()
    assert sorted(r.item for r in top5) == heavy
    for r in top5:
        assert r.est >= 200  # CMS never undercounts

    # NULL items are excluded by contract, never a phantom 'None' item
    withnull = df2.select(
        F.when(F.col("idx") % 3 == 0, None).otherwise(F.col("item")).alias("item")
    )
    h3 = TopKIngest(spark, str(tmp_path / "topk3"), "item", capacity=64)
    h3(withnull, 0)
    assert all(r.item != "None" for r in h3.read_topk(64).collect())

    # an EMPTY micro-batch (a trigger with no data) must not corrupt the
    # epoch table or the merged answer
    before = [(r.item, r.est) for r in h2.read_topk(5).collect()]
    h2(df2.filter(F.lit(False)).select("item"), 7)
    assert [(r.item, r.est) for r in h2.read_topk(5).collect()] == before


def test_distinct_count_ingest_equals_batch_and_replays(spark, tmp_path):
    """Streaming HLL maintainer: the unioned-epoch estimate equals the
    batch hll_sketch_estimate on the same rows EXACTLY (same sketch
    implementation, merge is the HLL contract); replaying an epoch
    changes nothing; small cardinalities are exact."""
    from blazingsql_spark.streaming.ingest import DistinctCountIngest, run_ingest

    rows = [(i, f"u{i % 321}") for i in range(3000)]
    df = spark.createDataFrame(rows, "idx long, item string")
    src = str(tmp_path / "src_dc")
    for i in range(3):
        df.filter(F.col("idx") % 3 == i).select("item").write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")
    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part*")
    )
    path = str(tmp_path / "dc")
    q = run_ingest(
        DistinctCountIngest(spark, path, col="item"), stream, str(tmp_path / "ckpt_dc")
    )
    q.awaitTermination(120)

    handler = DistinctCountIngest(spark, path, "item")
    want = int(
        df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("item")).alias("e")
        ).collect()[0].e
    )
    assert handler.estimate() == want == 321  # exact at this cardinality

    extra = spark.read.parquet(f"{src}/part0")
    handler(extra, 99)
    once = handler.estimate()
    handler(extra, 99)
    assert handler.estimate() == once == want  # replay + same-universe epoch

    # empty micro-batch: the NULL sketch it lands must not perturb the union
    handler(extra.filter(F.lit(False)), 100)
    assert handler.estimate() == want
