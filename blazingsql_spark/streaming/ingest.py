"""Streaming maintainers: foreachBatch handlers that keep persisted
state (corpus + dedup index, ANN and lexical indexes, sketches, cluster
labels, CDC state, a PCA model) current as micro-batches arrive.

The end-to-end training-data-ingest shape is DedupIngest: each micro-batch
is (1) checked against the persisted MinHash band index, (2) clean
documents are appended to the corpus sink, (3) their signatures are
appended to the index — so later batches dedup against everything seen so
far. All steps are key-partitioned joins/appends; nothing rescans the
corpus.

Every handler is a callable ``handler(batch, epoch_id)`` wired into a
stream by :func:`run_ingest`. foreachBatch is AT-LEAST-ONCE, so each
handler's writes are replay-idempotent through one of the two storage
protocols in ``sources.manifest``: per-epoch partitions under a versioned
manifest (append + compact), or versioned whole-table snapshots
(components, CDC, PCA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazingsql_spark.functions.dedup import _banded_signatures, incremental_near_dup_check
from blazingsql_spark.sources import manifest as mf


def run_ingest(handler, stream: DataFrame, checkpoint_path: str):
    """Wire ``stream`` through the foreachBatch ``handler`` (any
    maintainer here). Returns the started StreamingQuery; the
    availableNow trigger processes what the source holds and stops, so
    ``awaitTermination()`` returns for a bounded source (a continuous
    feed drops the trigger)."""
    return (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _parquet_readable(spark: SparkSession, path: str) -> bool:
    """Probe whether a parquet dataset exists at ``path``.

    Returns False ONLY for genuine absence (path not created yet, or
    created-but-empty so schema inference fails). Everything else — corrupt
    footers, permission errors, transient filesystem faults — re-raises:
    masking those as "no index yet" would silently disable the dedup
    screen for every later batch and permanently append known duplicates
    to the corpus. Same discipline as operators/forget.py and
    sources.manifest.snapshot_epochs. A missing path is answered by the Hadoop
    FileSystem before any read: ``spark.read`` on it would log a WARN with
    a full FileNotFoundException trace on every first epoch.
    """
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(jpath):
        return False
    try:
        spark.read.parquet(path)
        return True
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return False
        raise


class _OnDisk:
    """Whether the parquet dataset at ``path`` exists, probed on the
    filesystem (not instance state) until the first positive answer,
    then remembered: after a restart from checkpoint (or pointed at a
    pre-existing dataset) the first batch still sees what is on disk.
    A maintainer sets ``seen`` once it has written there itself."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path, self.seen = spark, path, False

    def __call__(self) -> bool:
        if not self.seen:
            self.seen = _parquet_readable(self.spark, self.path)
        return self.seen


class DedupIngest:
    """foreachBatch handler: near-dup-filter each micro-batch against the
    running index, append survivors to the corpus and their signatures to
    the index."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        corpus_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 8,
        bands: int = 4,
        shingle_n: int = 2,
        max_index_files: int = 64,
        index_partitions: int = 8,
    ):
        self.spark = spark
        self.index_path = index_path
        self.corpus_path = corpus_path
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.max_index_files = max_index_files
        self.index_partitions = index_partitions
        self._index = _OnDisk(spark, index_path)

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """Pre-dedup hook (subclasses: quality gates, normalization)."""
        return batch

    def _finalize(self, clean: DataFrame) -> DataFrame:
        """Pre-write hook (subclasses: add assignment columns). Must only
        ADD columns — signatures are built from the un-finalized rows."""
        return clean

    def _on_pairs(self, pairs: DataFrame | None, batch: DataFrame, epoch: int) -> None:
        """Post-write hook receiving the epoch's near-dup pairs
        (new_id, matched corpus id; None before the index exists).
        Subclasses: cluster maintenance, telemetry."""


    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        batch = self._prepare(batch).persist()
        pairs = None
        if self._index():
            # exclude the CURRENT epoch's own partition from the dedup
            # reference: on an at-least-once replay the batch's signatures
            # are already in the index, and comparing against them would
            # mark every replayed doc a duplicate OF ITSELF — the replayed
            # epoch would then overwrite its corpus partition with nothing
            # and silently lose the data. Excluding epoch N makes the
            # decision identical to the first attempt (deterministic), so
            # the overwrite is a no-op — idempotent.
            pairs = incremental_near_dup_check(
                self.spark,
                batch,
                self.index_path,
                self.text_col,
                self.id_col,
                self.num_hashes,
                self.bands,
                self.shingle_n,
                exclude_epoch=epoch,
            ).persist()
            dup_ids = pairs.select(F.col("new_id").alias(self.id_col)).distinct()
            clean = batch.join(dup_ids, self.id_col, "left_anti")
        else:
            clean = batch
        # in-batch dedup as well: keep the MIN id per identical text —
        # dropDuplicates keeps an ARBITRARY row, which breaks replay
        # idempotence (a redelivered epoch could retain a different copy
        # and rewrite its corpus partition with different rows) and
        # contradicts the min-id edges DedupClusterIngest derives
        from pyspark.sql.window import Window

        w = Window.partitionBy(self.text_col).orderBy(F.col(self.id_col))
        clean = (
            clean.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )

        mf.write_epoch_partition(self._finalize(clean), self.corpus_path, epoch)
        mf.write_epoch_partition(
            _banded_signatures(
                clean, self.text_col, self.id_col, self.num_hashes, self.bands, self.shingle_n
            ),
            self.index_path,
            epoch,
        )
        self._index.seen = True
        # pairs hook BEFORE compaction: pairs is a lazy plan over index
        # files the compaction garbage-collects — a block-loss recompute
        # inside the hook after GC would hit deleted paths
        self._on_pairs(pairs, batch, epoch)
        self._compact_index_if_needed(epoch)
        if pairs is not None:
            pairs.unpersist()
        batch.unpersist()
        clean.unpersist()

    def _compact_index_if_needed(self, epoch: int) -> None:
        """Bound the signature index's file count: every micro-batch adds
        an epoch partition of small parquet files, so an unbounded stream
        would accumulate thousands (slow scans, NameNode/listing pressure).
        Committed epochs fold into a base partition hash-clustered on
        (band, band_hash), published through the crash-safe versioned
        manifest (sources.manifest — every crash window leaves the old or
        the new consistent view, never a lost index; the previous
        delete-then-rename swap could lose everything between the two
        calls). The corpus table is never compacted — only read."""
        mf.compact_epoch_tables(
            self.spark,
            self.index_path,
            {"": lambda df: df.repartition(self.index_partitions, "band", "band_hash")},
            epoch,
            self.max_index_files,
        )


class CorpusPrepIngest(DedupIngest):
    """Full streaming corpus preparation, per micro-batch:

    quality gate → online near-dup filter (persisted band index) →
    train/val/test split + shard assignment → partitioned corpus append.

    The batch twin of this composition is the `pipeline_prepare_corpus`
    registry query; the streaming form keeps every property that matters
    at ingest time — restart-safe (index probed on disk, not in memory),
    exactly-once per epoch (foreachBatch), assignments hash-stable (a
    document's split/shard never depends on when it arrived — the same
    guarantee the batch pipeline gives, which is what makes streaming and
    batch corpus prep interchangeable)."""

    def _prepare(self, batch: DataFrame) -> DataFrame:
        from blazingsql_spark.functions.text import quality_ok

        gated = quality_ok(batch, self.text_col).filter(F.col("quality_ok"))
        return gated.select(*batch.columns)

    def _finalize(self, clean: DataFrame) -> DataFrame:
        from blazingsql_spark.functions.sampling import assign_shard, assign_split

        return assign_shard(assign_split(clean, self.id_col), self.id_col, n_shards=64)


class AnnIndexIngest:
    """foreachBatch handler maintaining a persisted IVF-PQ index over an
    embedding stream — the similarity-search mirror of DedupIngest:

    - first epoch (no index on disk) BUILDS the index and records the
      build-time PQ reconstruction error as the drift baseline;
    - every later epoch encodes its vectors against the FROZEN artifacts
      (`extend_ann_index`: one broadcast join + one append, the existing
      index is never rescanned) and appends a drift row — the batch's
      reconstruction error vs baseline (`ann_index_drift_report`), so the
      retrain decision is recorded data, not a guess. A flagged epoch
      still appends (the index stays serving); acting on the flag — an
      offline rebuild with fresh codebooks — is deliberately a separate
      job, because retraining re-keys every stored code.

    Restart-safe like DedupIngest: index presence is probed on disk, so a
    restart from checkpoint (or pointing at a pre-built index) extends
    instead of rebuilding.

    Optional HNSW coarse tier (``hnsw_m``): the landmark graph over the
    frozen centroid table (operators/hnsw.py) is built once alongside the
    codebooks and persisted at ``{index_path}/hnsw`` through the same
    frozen-artifact epoch discipline — centroids never change after the
    build epoch, so the graph never rebuilds either; a restart (or a
    pre-built IVF-PQ index missing the tier) reconstructs it
    deterministically from the frozen centroids. Every epoch appends a
    coarse-probe recall row (HNSW probes vs brute-force nearest-n_probe
    landmarks, measured on a bounded sample of the batch's own vectors)
    to ``{index_path}/hnsw_telemetry`` — the same recorded-not-guessed
    discipline as the PQ drift report."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        n_centroids: int = 8,
        m: int = 8,
        ksub: int = 16,
        iterations: int = 3,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        retrain_ratio: float = 1.5,
        hnsw_m: int | None = None,
        hnsw_ef: int = 64,
        hnsw_n_probe: int = 4,
        hnsw_recall_sample: int = 16,
    ):
        self.spark = spark
        self.index_path = index_path.rstrip("/")
        self.n_centroids = n_centroids
        self.m = m
        self.ksub = ksub
        self.iterations = iterations
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.retrain_ratio = retrain_ratio
        self.hnsw_m = hnsw_m
        self.hnsw_ef = hnsw_ef
        self.hnsw_n_probe = hnsw_n_probe
        self.hnsw_recall_sample = hnsw_recall_sample
        self._index = _OnDisk(spark, f"{self.index_path}/encoded")
        self._hnsw_cache = None  # (graph, cids) once loaded/built

    def _batch_error(self, batch: DataFrame, cents: DataFrame, books: DataFrame):
        """PQ reconstruction error of the batch's RESIDUALS (the quantity
        the codebooks actually encode under IVF-PQ)."""
        from blazingsql_spark.functions import similarity as S

        assigned = S.assign_to_centroids(batch, cents, self.id_col, self.vec_col)
        residuals = assigned.join(F.broadcast(cents), "centroid_id").select(
            F.col(self.id_col),
            F.zip_with(
                F.col(self.vec_col), F.col("centroid"), lambda x, c: x.cast("double") - c
            ).alias("residual"),
        )
        return S.pq_quantization_error(
            residuals, books, m=self.m, dim=self.dim,
            id_col=self.id_col, vec_col="residual",
        )

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from blazingsql_spark.functions import similarity as S

        batch = batch.persist()
        if not self._index():
            cents, books, encoded = S.ivfpq_build(
                batch, n_centroids=self.n_centroids, m=self.m, ksub=self.ksub,
                iterations=self.iterations, dim=self.dim,
                id_col=self.id_col, vec_col=self.vec_col,
            )
            S.save_ann_index(self.index_path, cents, books, encoded)
            err = self._batch_error(batch, cents, books)
            baseline = err.first()["mean_sq_error"]
            self.spark.createDataFrame(
                [(float(baseline),)], ["baseline_error"]
            ).write.mode("overwrite").parquet(f"{self.index_path}/stats")
            report = S.ann_index_drift_report(baseline, err, self.retrain_ratio)
        else:
            cents, books, _ = S.load_ann_index(self.spark, self.index_path)
            S.extend_ann_index(
                self.spark, self.index_path, batch,
                m=self.m, dim=self.dim, id_col=self.id_col, vec_col=self.vec_col,
            )
            baseline = (
                self.spark.read.parquet(f"{self.index_path}/stats")
                .first()["baseline_error"]
            )
            report = S.ann_index_drift_report(
                baseline, self._batch_error(batch, cents, books), self.retrain_ratio
            )
        report.withColumn("epoch_id", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(f"{self.index_path}/drift")
        if self.hnsw_m is not None:
            self._maintain_hnsw_tier(batch, cents, int(epoch_id))
        self._index.seen = True
        batch.unpersist()

    def _maintain_hnsw_tier(self, batch: DataFrame, cents: DataFrame, epoch: int) -> None:
        """Load-or-build the frozen landmark graph, then append this
        epoch's coarse-probe recall telemetry. Build happens at most once
        per index lifetime (centroids freeze at the build epoch); the
        recall measure is driver-side numpy over a bounded sample — zero
        extra Spark jobs beyond the sample collect."""
        import numpy as np

        from blazingsql_spark.operators import hnsw as H

        if self._hnsw_cache is None:
            # absence-gated like every other probe here: a corrupt/unreadable
            # tier must surface, not be silently rebuilt over
            if _parquet_readable(self.spark, f"{self.index_path}/hnsw/nodes"):
                self._hnsw_cache = H.load_hnsw_index(
                    self.spark, f"{self.index_path}/hnsw"
                )
            else:  # tier not on disk yet: build from frozen cents
                graph, cids = H.graph_from_centroids(
                    cents, m=self.hnsw_m,
                    ef_construction=max(self.hnsw_ef, 4 * self.hnsw_m),
                )
                H.save_hnsw_index(self.spark, f"{self.index_path}/hnsw", graph, cids)
                self._hnsw_cache = (graph, cids)
        graph, cids = self._hnsw_cache
        n_probe = min(self.hnsw_n_probe, len(cids))
        sample = batch.select(self.vec_col).limit(self.hnsw_recall_sample).collect()
        hits = total = 0
        for row in sample:
            q = np.asarray(row[self.vec_col], dtype=np.float32)
            nrm = float(np.linalg.norm(q))
            if nrm > 0:
                q = q / nrm
            sims = graph.points @ q
            # brute-force coarse truth: top-n_probe by (sim desc, id asc)
            exact = set(np.lexsort((np.arange(len(sims)), -sims))[:n_probe])
            got = set(H.hnsw_search(graph, q, n_probe, ef=self.hnsw_ef))
            hits += len(exact & got)
            total += n_probe
        recall = (hits / total) if total else 1.0
        self.spark.createDataFrame(
            [(int(epoch), float(recall), int(len(sample)))],
            "epoch_id long, coarse_recall double, sample_n long",
        ).write.mode("append").parquet(f"{self.index_path}/hnsw_telemetry")


class LexicalIndexIngest:
    """foreachBatch handler maintaining a PERSISTED BM25 lexical index:
    each micro-batch's documents are tokenized once and written as
    ``postings/`` (token, doc_id, tf — hash-clustered on token at
    compaction, so a query's term filter prunes to the posting lists it
    touches) and ``doclen/`` (doc_id, dl). Query-time scoring
    (``functions.text.bm25_topk_indexed``) then never rescans raw text —
    the retrieval twin of the dedup signature index: the ever-growing
    side lives clustered on its join key and is only ever appended to.

    Idempotence under at-least-once delivery (foreachBatch replays an
    epoch after a mid-batch failure): every epoch writes its own
    ``epoch_id=<N>`` partition via dynamic partition overwrite, so a
    replayed epoch REPLACES its previous attempt instead of
    double-counting tf/dl/n_docs/avgdl. Compaction folds committed
    epochs (everything but the possibly-replayable current one) into a
    fresh negative base partition, publishes it through a versioned
    manifest (``sources.manifest``), then garbage-collects unreferenced
    directories — every crash window leaves a consistent readable index
    (the old view or the new view, never duplicates, never data loss).
    Both ``postings/`` and ``doclen/`` compact under the same
    file-count trigger so neither accumulates unbounded listing
    pressure. NOTE: re-ingesting a doc_id that already exists in a
    PREVIOUS epoch still double-counts (upsert semantics need
    ``merge_upsert``-style reconciliation at compaction); stream unique
    documents or dedup upstream."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_postings_files: int = 64,
        postings_partitions: int = 8,
    ):
        self.spark = spark
        self.index_path = index_path.rstrip("/")
        self.text_col = text_col
        self.id_col = id_col
        self.max_postings_files = max_postings_files
        self.postings_partitions = postings_partitions

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from blazingsql_spark.functions.text import _tokens

        toks = _tokens(batch, self.id_col, self.text_col).persist()
        epoch = int(epoch_id)
        mf.write_epoch_partition(
            toks.groupBy(self.id_col, "token").agg(F.count("*").alias("tf")),
            f"{self.index_path}/postings",
            epoch,
        )
        mf.write_epoch_partition(
            toks.groupBy(self.id_col).agg(F.count("*").alias("dl")),
            f"{self.index_path}/doclen",
            epoch,
        )
        toks.unpersist()
        self._compact_if_needed(epoch)

    def _compact_if_needed(self, epoch: int) -> None:
        mf.compact_epoch_tables(
            self.spark,
            self.index_path,
            {
                "postings": lambda df: df.repartition(
                    self.postings_partitions, "token"
                ).sortWithinPartitions("token"),
                "doclen": lambda df: df.repartition(
                    self.postings_partitions, self.id_col
                ),
            },
            epoch,
            self.max_postings_files,
        )


class ComponentsIngest:
    """foreachBatch handler maintaining transitive near-dup CLUSTERS as
    edge batches arrive — the cross-epoch completion of DedupIngest
    (which filters pairwise per batch but does not track components).

    Each epoch applies ``operators.graph.incremental_components`` (cost
    bounded by the batch, never the history) and publishes the full
    (node, component_id) labels table as a versioned snapshot
    (sources.manifest.publish_snapshot: write-then-switch, so a crash
    mid-write leaves the previous snapshot live).

    At-least-once replay is idempotent BY ALGEBRA, not bookkeeping:
    connected components is a closure operator — applying the same edge
    batch to labels that already absorbed it changes nothing — so a
    redelivered epoch just rewrites an identical snapshot. (Asserted in
    tests; contrast DedupIngest, which needs exclude_epoch plumbing.)

    Scale: the labels table is rewritten once per epoch (map-side remap +
    one shuffle for the final merge — keep it bucketed on node to strip
    the shuffle); old snapshots are pruned to the last ``keep_snapshots``.
    """

    def __init__(self, spark: SparkSession, labels_path: str, keep_snapshots: int = 2):
        self.spark = spark
        self.labels_path = labels_path.rstrip("/")
        self.keep_snapshots = mf.check_snapshot_retention(keep_snapshots)

    def read_labels(self):
        return mf.read_snapshot(self.spark, self.labels_path)

    def __call__(self, batch_df, epoch: int) -> None:
        from blazingsql_spark.operators.graph import incremental_components

        labels = self.read_labels()
        # eager checkpoint is LOAD-BEARING (r13 measured, then reverted a
        # lazy spelling): a REPLAYED epoch overwrites its own snapshot
        # directory, and a lazy plan would still be reading those files
        # inside the overwrite job (FAILED_READ_FILE, caught by the replay
        # tests). Materialize fully BEFORE the write starts.
        new = incremental_components(labels, batch_df).localCheckpoint(eager=True)
        mf.publish_snapshot(
            self.spark, self.labels_path, new, epoch, self.keep_snapshots
        )


class DedupClusterIngest(DedupIngest):
    """DedupIngest that ALSO maintains transitive near-dup CLUSTER labels
    across epochs (ComponentsIngest on the pair stream): every filtered
    duplicate stays traceable to its duplicate CLUSTER, even when the
    link is transitive across many epochs.

    Edges per epoch: the cross-epoch near-dup pairs (new_id → matched
    corpus id) plus the in-batch exact-duplicate pairs the parent's
    min-id selection collapses (other_id → min id per identical text,
    null-safe so null-text copies cluster too).

    Contract precision: ``component_id`` is the cluster's MINIMUM doc id
    — a stable cluster identifier, NOT necessarily a retained corpus
    row. Corpus retention is decided by ARRIVAL order (the first-seen
    copy survives the filter), so a later-arriving duplicate with a
    smaller id becomes the cluster id while its earlier twin remains the
    corpus row; to find the retained representative of a cluster, join
    the cluster's members against the corpus. Docs with no duplicate
    anywhere appear in no edge and carry no label — absence from the
    labels table MEANS singleton (keeps the labels table proportional to
    duplicates, not the corpus).

    Replay-idempotent end to end: the parent's filter decisions are
    deterministic under replay (exclude_epoch + min-id in-batch
    selection), so the same edges are re-derived, and component
    maintenance is a closure operator."""

    def __init__(self, *args, labels_path: str, keep_snapshots: int = 2, **kwargs):
        super().__init__(*args, **kwargs)
        self.components = ComponentsIngest(
            self.spark, labels_path, keep_snapshots=keep_snapshots
        )

    def _on_pairs(self, pairs: DataFrame | None, batch: DataFrame, epoch: int) -> None:
        ident = batch.select(self.id_col, self.text_col)
        keep = ident.groupBy(self.text_col).agg(F.min(self.id_col).alias("__keep"))
        # null-safe join: null-text copies group together in the agg but a
        # plain equi-join would drop them and lose their cluster edges
        exact = (
            ident.alias("i")
            .join(
                keep.alias("k"),
                F.col(f"i.{self.text_col}").eqNullSafe(F.col(f"k.{self.text_col}")),
            )
            .filter(F.col(f"i.{self.id_col}") != F.col("__keep"))
            .select(F.col(f"i.{self.id_col}").alias("src"), F.col("__keep").alias("dst"))
        )
        edges = exact
        if pairs is not None:
            edges = edges.union(
                pairs.select(
                    F.col("new_id").alias("src"), F.col("corpus_id").alias("dst")
                )
            )
        if edges.limit(1).count() == 0:
            return
        self.components(edges, epoch)

    def cluster_labels(self):
        """(node, component_id) for every doc that ever near-duplicated;
        ids absent here are singletons."""
        return self.components.read_labels()


class BloomCorpusIngest:
    """foreachBatch handler: EXACT-dedup corpus ingestion screened by a
    Bloom filter maintained incrementally under the crash-safe manifest
    layout (functions.dedup.bloom_build/bloom_probe — the engine-portable
    md5-bit filter).

    Per micro-batch: (1) in-batch exact dedup (min id per text, the
    deterministic rule replay idempotence needs); (2) probe the merged
    history filter — bloom-FALSE documents are GUARANTEED new and skip
    membership verification entirely, only the bloom-TRUE sliver (real
    dups + the designed false-positive rate) anti-joins the content-
    fingerprint table; (3) append survivors to the corpus, their 16-byte
    fingerprints to ``<screen>/fps``, and their bloom words to
    ``<screen>/words``.

    Why this scales where a plain fp anti-join stalls: the per-batch
    reference is ~n_bits/32 words (+ the fp table for only the maybe
    sliver), not the full history per batch. Incremental maintenance is
    free because bit_or is ASSOCIATIVE and IDEMPOTENT — per-epoch word
    partitions merge by one groupBy at read, replays overwrite their own
    partition with identical bits, and compaction (shared
    compact_epoch_tables protocol) is the same fold published under one
    manifest covering words and fps together. The replay hazard class
    DedupIngest documents is handled the same way: a replaying epoch
    excludes its own partitions from the reference, so its decisions
    equal the first attempt's."""

    def __init__(
        self,
        spark: SparkSession,
        screen_path: str,
        corpus_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_bits: int = 1 << 16,
        n_hashes: int = 4,
        max_index_files: int = 64,
    ):
        self.spark = spark
        self.screen_path = screen_path
        self.words_path = f"{screen_path}/words"
        self.fps_path = f"{screen_path}/fps"
        self.corpus_path = corpus_path
        self.text_col = text_col
        self.id_col = id_col
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.max_index_files = max_index_files
        self._screen = _OnDisk(spark, self.words_path)

    def _reference(self, exclude_epoch: int):
        """(merged bloom words, history fingerprints), both excluding the
        possibly-replaying epoch's own partitions."""
        man = mf.read_manifest(self.spark, self.screen_path)
        words = (
            mf.read_live(self.spark, self.words_path, man, exclude_epoch)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
        )
        fps = mf.read_live(self.spark, self.fps_path, man, exclude_epoch)
        return words, fps

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.window import Window

        from blazingsql_spark.functions import dedup

        epoch = int(epoch_id)
        w = Window.partitionBy(self.text_col).orderBy(F.col(self.id_col))
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )
        if self._screen():
            words, fps = self._reference(epoch)
            probed = dedup.bloom_probe(
                batch, words, self.text_col, self.id_col, self.n_bits, self.n_hashes
            )
            maybe_ids = probed.filter(F.col("maybe_dup")).select(self.id_col)
            sure_new = batch.join(maybe_ids, self.id_col, "left_anti")
            confirmed_new = (
                batch.join(maybe_ids, self.id_col, "left_semi")
                .withColumn("fp", F.md5(F.col(self.text_col)))
                .join(fps.select("fp"), "fp", "left_anti")
                .drop("fp")
            )
            clean = sure_new.unionByName(confirmed_new).persist()
        else:
            clean = batch
        mf.write_epoch_partition(clean, self.corpus_path, epoch)
        mf.write_epoch_partition(
            clean.select(F.md5(F.col(self.text_col)).alias("fp")),
            self.fps_path,
            epoch,
        )
        mf.write_epoch_partition(
            dedup.bloom_build(clean, self.text_col, self.n_bits, self.n_hashes),
            self.words_path,
            epoch,
        )
        self._screen.seen = True
        self._compact_if_needed(epoch)
        if clean is not batch:
            clean.unpersist()
        batch.unpersist()

    def _compact_if_needed(self, epoch: int) -> None:
        mf.compact_epoch_tables(
            self.spark,
            self.screen_path,
            {
                "words": lambda df: df.groupBy("word_idx").agg(
                    F.bit_or("word").alias("word")
                ),
                "fps": lambda df: df.repartition(4, "fp"),
            },
            epoch,
            self.max_index_files,
        )

    def read_corpus(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus_path).drop("epoch_id")


class PcaIngest:
    """foreachBatch handler maintaining a PCA model over an embedding
    stream — the dimensionality-reduction mirror of AnnIndexIngest.

    The state is the EXACT mergeable moment sketch (n, Σx, Σxxᵀ,
    functions.ml.pca_moments): each epoch sketches its batch in one Arrow
    pass, adds it to the prior sketch, and refits the model driver-side
    (d×d eigendecomposition) — so after any number of epochs the model is
    IDENTICAL to a batch fit on the union of everything seen, not an
    approximation (property-tested).

    Unlike components (a closure) or CDC (upserts/deletes), moment
    ADDITION is not idempotent — a replayed epoch must not absorb its
    batch twice — so the sketch lives under ``moments/`` as versioned
    snapshots (sources.manifest) and epoch N ALWAYS merges against the
    newest snapshot with epoch < N: a replay recomputes exactly the
    first attempt, and a crash mid-write leaves a _SUCCESS-less snapshot
    the reader skips. Drift rows (top-component
    rotation angle + explained-variance ratio, derived from the PRIOR
    sketch so replays agree) land in per-epoch partitions, overwritten
    idempotently. Empty micro-batches (recovery/no-data triggers) are
    skipped outright.
    """

    def __init__(
        self,
        spark: SparkSession,
        model_path: str,
        k: int = 8,
        vec_col: str = "embedding",
        keep_snapshots: int = 2,
    ):
        self.spark = spark
        self.model_path = model_path.rstrip("/")
        self.moments_path = f"{self.model_path}/moments"
        self.keep_snapshots = mf.check_snapshot_retention(keep_snapshots)
        self.k = int(k)
        self.vec_col = vec_col

    def _prior_sketch(self, epoch: int):
        """Newest published sketch STRICTLY BEFORE this epoch — the replay
        anchor (a replayed epoch must not read its own first attempt)."""
        snap = mf.read_snapshot(self.spark, self.moments_path, before=epoch)
        if snap is None:
            return None
        row = snap.first()
        return int(row["n"]), list(row["s"]), list(row["ss"])

    def load_model(self) -> dict:
        rows = self.spark.read.parquet(f"{self.model_path}/model").collect()
        mean = next(list(r["vec"]) for r in rows if r["kind"] == "mean")
        comps = sorted(
            ((r["idx"], list(r["vec"]), r["val"]) for r in rows if r["kind"] == "component"),
        )
        meta = next(r for r in rows if r["kind"] == "meta")
        return {
            "mean": mean,
            "components": [c[1] for c in comps],
            "eigvals": [c[2] for c in comps],
            "total_var": float(meta["val"]),
            "n": int(meta["idx"]),
        }

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        import numpy as np

        from blazingsql_spark.functions.ml import pca_fit_from_moments, pca_moments

        epoch = int(epoch_id)
        if batch.isEmpty():
            return  # no-data/recovery batch: no state change, no drift row
        n_b, s_b, ss_b = pca_moments(batch, self.vec_col)
        prior = self._prior_sketch(epoch)
        prev_top = None
        if prior is not None:
            n0, s0, ss0 = prior
            # prior top component derives from the PRIOR SKETCH (not the
            # stored model, which a replay may find already advanced)
            prev_top = np.asarray(
                pca_fit_from_moments(n0, s0, ss0, self.k)["components"][0]
            )
            n_b = n_b + n0
            s_b = np.asarray(s_b) + np.asarray(s0)
            ss_b = np.asarray(ss_b).ravel() + np.asarray(ss0)
        model = pca_fit_from_moments(n_b, s_b, np.asarray(ss_b).ravel(), self.k)
        sk = self.spark.createDataFrame(
            [
                (
                    int(n_b),
                    [float(x) for x in np.asarray(s_b)],
                    [float(x) for x in np.asarray(ss_b).ravel()],
                )
            ],
            "n long, s array<double>, ss array<double>",
        )
        mf.publish_snapshot(
            self.spark, self.moments_path, sk, epoch, self.keep_snapshots
        )
        rows = [("mean", -1, model["mean"], 0.0)]
        rows += [
            ("component", i, model["components"][i], float(model["eigvals"][i]))
            for i in range(len(model["components"]))
        ]
        rows += [("meta", model["n"], [], model["total_var"])]
        self.spark.createDataFrame(
            rows, "kind string, idx long, vec array<double>, val double"
        ).write.mode("overwrite").parquet(f"{self.model_path}/model")
        new_top = np.asarray(model["components"][0])
        angle = (
            float(
                np.degrees(
                    np.arccos(np.clip(abs(float(prev_top @ new_top)), 0.0, 1.0))
                )
            )
            if prev_top is not None
            else 0.0
        )
        evr = float(sum(model["eigvals"]) / max(model["total_var"], 1e-300))
        # per-epoch partition overwrite: a replayed epoch rewrites its own
        # row instead of appending a duplicate
        self.spark.createDataFrame(
            [(model["n"], angle, evr)],
            "n_total long, top_angle_deg double, evr double",
        ).write.mode("overwrite").parquet(f"{self.model_path}/drift/epoch_id={epoch}")


class CdcApplyIngest:
    """foreachBatch handler materializing "current state after the log"
    from a CDC change stream (Debezium-shaped: op in I/U/D + a
    monotonically comparable version) — the streaming completion of
    operators.merge.cdc_apply.

    Each epoch applies the batch's changes to the newest published
    snapshot and publishes the result as the epoch's versioned snapshot
    (sources.manifest: write-then-switch, keep >= 2), like
    ComponentsIngest. At-least-once replay is idempotent BY ALGEBRA:
    upserts and deletes are idempotent, so re-applying an
    already-absorbed batch rewrites an identical snapshot (asserted in
    tests). Per-epoch cost is one window over the BATCH's log plus one
    key-join against the snapshot — sized by the batch and the live key
    set, never the log history."""

    def __init__(
        self,
        spark: SparkSession,
        snapshot_path: str,
        key_cols: list[str],
        op_col: str = "op",
        version_col: str = "version",
        keep_snapshots: int = 2,
    ):
        self.spark = spark
        self.snapshot_path = snapshot_path.rstrip("/")
        self.keep_snapshots = mf.check_snapshot_retention(keep_snapshots)
        self.key_cols = list(key_cols)
        self.op_col = op_col
        self.version_col = version_col

    def read_snapshot(self):
        return mf.read_snapshot(self.spark, self.snapshot_path)

    def __call__(self, batch_df, epoch: int) -> None:
        from blazingsql_spark.operators.merge import cdc_apply

        snap = self.read_snapshot()
        if snap is None:
            # first epoch: an empty snapshot with the log's payload schema
            snap = batch_df.drop(self.op_col, self.version_col).limit(0)
        # eager checkpoint is LOAD-BEARING — see ComponentsIngest.__call__:
        # a replayed epoch reads its own snapshot while overwriting it
        new = cdc_apply(
            snap, batch_df, self.key_cols, self.op_col, self.version_col
        ).localCheckpoint(eager=True)
        mf.publish_snapshot(
            self.spark, self.snapshot_path, new, epoch, self.keep_snapshots
        )


class QuantileSketchIngest:
    """foreachBatch handler maintaining a PERSISTED DDSketch: each
    micro-batch's values bucket into a (bucket, cnt) table landed in its
    own epoch partition (write_epoch_partition — replay OVERWRITES the
    attempt, so at-least-once delivery can never double-count even
    though bucket counts are additive), and the queryable sketch is the
    plain count-sum merge of the live partitions. Exact mergeability
    (tests prove merged-streams == batch-on-union, bucket for bucket)
    is what makes this maintainer trivial next to PcaIngest's versioned
    snapshots: addition over disjoint epochs needs no snapshot
    discipline, only replay-idempotent epoch writes. Compose with
    sources.manifest compaction like every other epoch table."""

    def __init__(
        self,
        spark: SparkSession,
        sketch_path: str,
        value_col: str,
        relative_accuracy: float = 0.01,
    ):
        self.spark = spark
        self.sketch_path = sketch_path
        self.value_col = value_col
        self.relative_accuracy = float(relative_accuracy)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from blazingsql_spark.functions import sketches

        buckets = sketches.ddsketch_build(
            batch, self.value_col, relative_accuracy=self.relative_accuracy
        )
        mf.write_epoch_partition(buckets, self.sketch_path, int(epoch_id))

    def read_sketch(self) -> DataFrame:
        """The merged (bucket, cnt) summary over every live epoch."""
        from blazingsql_spark.functions import sketches

        # read_manifest returns None for a never-compacted table (no
        # blanket swallow — real FS errors propagate, the r9 discipline)
        man = mf.read_manifest(self.spark, self.sketch_path)
        live = mf.read_live(self.spark, self.sketch_path, man)
        return sketches.ddsketch_merge(live.drop("epoch_id"))

    def quantiles(self, qs: list[float]) -> DataFrame:
        from blazingsql_spark.functions import sketches

        return sketches.ddsketch_quantiles(
            self.read_sketch(), qs, relative_accuracy=self.relative_accuracy
        )


class TopKIngest:
    """foreachBatch handler maintaining a PERSISTED approximate top-k:
    each micro-batch lands (a) a count-min sketch (sparse (j, w, c)
    rows, bounded depth x width regardless of cardinality) and (b) its
    space-saving candidate summary (<= ``capacity`` items), each in its
    own replay-idempotent epoch partition (write_epoch_partition
    OVERWRITES the attempt — counts are additive, so an append under
    at-least-once delivery would double-count; the same discipline as
    QuantileSketchIngest). The queryable top-k is: merge the CMS tables
    by element-wise sum (exactly mergeable), union the candidate sets,
    estimate every candidate on the MERGED sketch, take the k largest.

    Guarantees, stated honestly: CMS estimates NEVER undercount, so a
    candidate's reported count is an upper bound within eN/width of
    truth w.p. 1-(1/e)^depth. Candidate recall: an item inside some
    epoch's top-``capacity`` space-saving summary is always a
    candidate; an adversary spreading a globally-heavy item thinly
    enough to miss EVERY epoch's summary cut can evade candidacy —
    size ``capacity`` several multiples above k (default 256 vs k~10),
    the same trade every production top-k maintainer makes. State per
    epoch is <= depth*width + capacity rows — cardinality-independent."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        col: str,
        capacity: int = 256,
        width: int = 1024,
        depth: int = 4,
    ):
        self.spark = spark
        self.path = path
        self.col = col
        self.capacity = int(capacity)
        self.width = int(width)
        self.depth = int(depth)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from blazingsql_spark.functions import sketches

        # NULL items are EXCLUDED up front: cms_sketch drops them but
        # space_saving stringifies them, and that mismatch would surface
        # a phantom 'None' candidate whose merged-sketch estimate is
        # pure collision noise (count nulls upstream if they matter —
        # the same contract as cms_sketch/categorical_fit)
        batch = batch.filter(F.col(self.col).isNotNull())
        cms = sketches.cms_sketch(batch, self.col, self.width, self.depth)
        mf.write_epoch_partition(cms, f"{self.path}/cms", int(epoch_id))
        cands = sketches.space_saving_topk(
            batch, self.col, k=self.capacity, capacity=self.capacity
        ).select("item")
        mf.write_epoch_partition(cands, f"{self.path}/cands", int(epoch_id))

    def _live(self, sub: str) -> DataFrame:
        man = mf.read_manifest(self.spark, f"{self.path}/{sub}")
        return mf.read_live(self.spark, f"{self.path}/{sub}", man)

    def read_topk(self, k: int = 10) -> DataFrame:
        """(item, est) for the k largest candidate estimates on the
        merged sketch, ordered (est desc, item) — computed fully
        DISTRIBUTED (sketches.cms_estimate_df: coordinate hash via
        mapInPandas + broadcast-sketch join + min groupBy; nothing
        unbounded ever collects — the candidate union is <= capacity
        per epoch but UNBOUNDED in epochs on a long-running stream).
        Only the FINAL k rows materialize to the driver, so the
        returned frame is a SNAPSHOT: later epoch writes or replay
        overwrites cannot change or break it mid-read."""
        from blazingsql_spark.functions import sketches

        merged = (
            self._live("cms")
            .groupBy("j", "w")
            .agg(F.sum("c").alias("c"))
        )
        cands = self._live("cands").select("item").distinct()
        est = sketches.cms_estimate_df(
            merged, cands, width=self.width, depth=self.depth
        )
        top = est.orderBy(F.desc("est"), "item").limit(int(k)).collect()
        return self.spark.createDataFrame(
            [(r.item, int(r.est)) for r in top], "item string, est long"
        )


class DistinctCountIngest:
    """foreachBatch handler maintaining a PERSISTED HLL distinct count:
    each micro-batch aggregates to ONE DataSketches HLL binary
    (hll_sketch_agg — bounded, cardinality-independent state) landed in
    its own replay-idempotent epoch partition; the queryable estimate
    unions the live epochs with hll_union_agg. Completes the streaming
    sketch family (quantiles: QuantileSketchIngest; frequency/top-k:
    TopKIngest; membership: BloomCorpusIngest; distinct: here) with the
    same manifest + epoch-overwrite discipline throughout. Exact
    mergeability is the HLL contract: union-of-epoch-sketches equals
    the sketch of the union, so the streaming estimate is bit-identical
    to the batch estimate on the same rows (both go through the same
    Spark DataSketches implementation)."""

    def __init__(self, spark: SparkSession, path: str, col: str):
        self.spark = spark
        self.path = path
        self.col = col

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        sk = batch.agg(F.hll_sketch_agg(self.col).alias("sk"))
        mf.write_epoch_partition(sk, self.path, int(epoch_id))

    def estimate(self) -> int:
        man = mf.read_manifest(self.spark, self.path)
        live = mf.read_live(self.spark, self.path, man)
        row = live.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        ).collect()[0]
        return int(row.est) if row.est is not None else 0
