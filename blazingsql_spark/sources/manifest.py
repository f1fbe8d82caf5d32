"""Crash-safe epoch-manifest layout for incrementally-maintained indexes.

The streaming index maintainers (``streaming.ingest.LexicalIndexIngest``)
append one parquet partition per foreachBatch epoch. foreachBatch is
AT-LEAST-ONCE: after a mid-batch failure the same epoch is re-delivered, so
a blind ``mode("append")`` would double-count the replayed rows and silently
corrupt every statistic derived from the index (tf, dl, n_docs, avgdl — and
therefore every BM25 score). The layout here makes maintenance idempotent
and compaction crash-safe without any external transaction service — a
miniature of the manifest/snapshot discipline the table formats built on
parquet (Delta, Iceberg) use:

- **Epoch writes** land in ``<dir>/epoch_id=<N>/`` via dynamic partition
  overwrite: a replayed epoch OVERWRITES its own partition — idempotent.
- **Reads** are manifest-gated, not discovery-gated: a reader consumes the
  base partitions listed in the newest ``MANIFEST-<v>.json`` plus every
  epoch partition ``>= min_epoch``. Half-written compaction output is
  invisible until the manifest referencing it exists.
- **Manifests are versioned, never edited**: ``MANIFEST-<v>.json`` is
  written to a dot-temp name and renamed into place (rename-to-new-name is
  atomic on HDFS-like filesystems and never overwrites); the newest version
  wins; older versions and unreferenced partition directories are garbage,
  collected opportunistically by the next compaction. Every crash window
  therefore leaves either the old consistent view or the new consistent
  view — never duplicates, never a missing index.

Maintainers whose state is one whole table rewritten per epoch (connected
components labels, CDC current state, PCA moments) use the sibling
VERSIONED-SNAPSHOT layout, also here:

- **Snapshot writes** land in ``<dir>/snap=<N>/`` for epoch N; a replayed
  epoch overwrites its own directory.
- **Reads** take the newest snapshot WITH a ``_SUCCESS`` marker (or the
  newest before an epoch — a replay anchor that must not see its own
  first attempt), so a crash mid-write leaves the previous snapshot live:
  write-then-switch. Stray names (``snap=tmp``, ``snap=5.bak``) are
  skipped.
- **Pruning** keeps the newest ``keep >= 2`` snapshots: a replay rewriting
  its own directory needs the one before it as the fallback.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Underscore-prefixed so Hadoop/Spark file listings ignore them (like
# _SUCCESS): manifests can therefore live INSIDE a parquet table directory
# (the dedup signature index is its own table root) as well as beside
# sub-tables (the lexical index's postings/ + doclen/).
_MANIFEST_RE = re.compile(r"^_MANIFEST-(\d+)\.json$")
_SNAP = "snap="


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), sc._jvm


def list_manifest_versions(spark: SparkSession, index_dir: str) -> list[int]:
    """Retained manifest versions, ascending — the time-travel horizon."""
    fs, jvm = _fs(spark, index_dir)
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_manifest(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> dict | None:
    """Newest manifest in ``index_dir`` (or the named retained ``version``
    for time travel), or None if the index has never been compacted
    (reader default: all epoch partitions >= 0). Asking for a version
    that is not retained raises — silently reading the newest instead
    would return the wrong table state."""
    fs, jvm = _fs(spark, index_dir)
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    if not fs.exists(root):
        if version is not None:
            raise ValueError(f"manifest version {version} not found in {index_dir}")
        return None
    best_v, best_path = -1, None
    for st in fs.listStatus(root):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if not m:
            continue
        v = int(m.group(1))
        if version is not None:
            if v == version:
                best_v, best_path = v, st.getPath()
                break
        elif v > best_v:
            best_v, best_path = v, st.getPath()
    if best_path is None:
        if version is not None:
            raise ValueError(f"manifest version {version} not found in {index_dir}")
        return None
    stream = fs.open(best_path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def write_manifest(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    keep_manifests: int = 1,
) -> None:
    """Publish ``manifest`` as the next ``MANIFEST-<v>.json`` (dot-temp
    write + rename-to-fresh-name). ``keep_manifests`` retains that many
    newest versions for time travel (default 1 = current-only, the
    historical behavior); older versions become garbage and are deleted
    best-effort. Retention of MANIFESTS is not retention of DATA: a
    retained version stays readable only until compaction's gc reclaims
    partitions it references — the same horizon contract as table-format
    VACUUM."""
    fs, jvm = _fs(spark, index_dir)
    jp = jvm.org.apache.hadoop.fs.Path
    prev = read_manifest(spark, index_dir)
    version = (prev.get("version", 0) + 1) if prev else 1
    manifest = dict(manifest, version=version)
    tmp = jp(f"{index_dir}/.tmp._MANIFEST-{version}.json")
    final = jp(f"{index_dir}/_MANIFEST-{version}.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise IOError(f"manifest publish failed: {tmp} -> {final}")
    cutoff = version - max(int(keep_manifests), 1) + 1
    for st in fs.listStatus(jp(index_dir)):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if m and int(m.group(1)) < cutoff:
            fs.delete(st.getPath(), False)


def live_partition_filter(manifest: dict | None, snapshot: bool = False) -> Column:
    """Predicate over the ``epoch_id`` partition column selecting the
    partitions the manifest declares live (partition-prunable).

    CURRENT-VIEW reads (the maintainers — default) are open above:
    min_epoch plus every LATER epoch, because epochs keep arriving after
    the manifest was published. SNAPSHOT reads (time travel,
    ``snapshot=True``) additionally cap at the manifest's ``max_epoch``
    (recorded at publish) so epochs appended afterwards don't leak into
    the historical view. Bases are negative ids, so they pass only via
    the explicit list either way."""
    if manifest is None:
        return F.col("epoch_id") >= 0
    cond = F.col("epoch_id") >= int(manifest["min_epoch"])
    if snapshot and "max_epoch" in manifest:
        cond = cond & (F.col("epoch_id") <= int(manifest["max_epoch"]))
    bases = [int(b) for b in manifest.get("bases", [])]
    if bases:
        cond = cond | F.col("epoch_id").isin(bases)
    return cond


def _live_epoch_ids(fs, jvm, table_dir: str, manifest: dict | None) -> list:
    """FS-listed epoch_id partition values that pass the live predicate —
    the listing twin of ``live_partition_filter``."""
    root = jvm.org.apache.hadoop.fs.Path(table_dir)
    if not fs.exists(root):
        return []
    min_epoch = int(manifest["min_epoch"]) if manifest else 0
    bases = {int(b) for b in manifest.get("bases", [])} if manifest else set()
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("epoch_id="):
            continue
        try:
            val = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if val >= min_epoch or val in bases:
            out.append(st.getPath())
    return out


def _live_file_count(spark: SparkSession, table_dir: str, manifest: dict | None) -> int:
    """Number of data files inside the LIVE epoch partitions only (the
    relation-level ``DataFrame.inputFiles()`` ignores partition filters
    and would count superseded/garbage partitions)."""
    fs, jvm = _fs(spark, table_dir)
    n = 0
    for p in _live_epoch_ids(fs, jvm, table_dir, manifest):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not name.startswith((".", "_")):
                n += 1
    return n


def read_live(
    spark: SparkSession,
    table_dir: str,
    manifest: dict | None,
    exclude_epoch: int | None = None,
    snapshot: bool = False,
) -> DataFrame:
    """Manifest-gated read of one epoch-partitioned table directory.

    The ONE shared implementation of the epoch-guard read (dedup index,
    lexical index, and tests all route here): legacy flat layouts — no
    ``epoch_id`` column, written before the manifest protocol — read as
    plain parquet; applying the partition predicate to them would raise
    AnalysisException. ``exclude_epoch`` drops the named epoch (a
    replaying foreachBatch epoch must not see its own earlier attempt)."""
    df = spark.read.parquet(table_dir)
    if "epoch_id" not in df.columns:
        return df
    df = df.filter(live_partition_filter(manifest, snapshot=snapshot))
    if exclude_epoch is not None:
        df = df.filter(F.col("epoch_id") != int(exclude_epoch))
    return df.drop("epoch_id")


def compact_epoch_tables(
    spark: SparkSession,
    root: str,
    tables: dict,
    epoch: int,
    max_files: int,
    keep_manifests: int = 1,
) -> bool:
    """The full crash-safe compaction protocol shared by the index
    maintainers: when the live file count of the FIRST table exceeds
    ``max_files``, fold every committed epoch (everything except the
    possibly-replayable current one) of EVERY table into a fresh base
    partition, publish one manifest covering them all, then garbage-
    collect unreferenced directories.

    ``tables`` maps sub-path ("" = ``root`` itself is the table) to a
    layout callable applied to the folded DataFrame before writing
    (clustering/repartitioning). The base partition id derives from the
    manifest version, so even the same epoch compacting twice (replay
    after a crash between compaction and checkpoint commit) writes a
    fresh directory. Returns True if a compaction ran."""
    man = read_manifest(spark, root)
    prev_min = int(man["min_epoch"]) if man else 0
    if epoch < prev_min:
        # replay of an already-folded epoch: compacting from it would
        # regress min_epoch and resurrect superseded partitions
        return False

    def tdir(sub: str) -> str:
        return root if sub == "" else f"{root}/{sub}"

    first = next(iter(tables))
    # DataFrame.inputFiles() is relation-level and IGNORES the partition
    # filter (tests/test_plans.py documents the same trap), so it counts
    # superseded/garbage partitions not yet GC'd and compaction fires
    # early. Count live data files from the filesystem listing instead —
    # exactly the epoch_id dirs the manifest declares live, no data scan.
    if _live_file_count(spark, tdir(first), man) <= max_files:
        return False
    base_id = -((man.get("version", 0) if man else 0) + 1)
    for sub, layout in tables.items():
        folded = (
            spark.read.parquet(tdir(sub))
            .filter(live_partition_filter(man))
            .filter(F.col("epoch_id") != epoch)
            .drop("epoch_id")
        )
        layout(folded).write.mode("overwrite").parquet(
            f"{tdir(sub)}/epoch_id={base_id}"
        )
    # max_epoch = the snapshot bound: epochs that exist at publish time
    # (the possibly-replayable current one included — it is live now)
    new_man = {
        "bases": [base_id],
        "min_epoch": max(epoch, prev_min),
        "max_epoch": epoch,
    }
    write_manifest(spark, root, new_man, keep_manifests=keep_manifests)
    retained = [
        read_manifest(spark, root, v) for v in list_manifest_versions(spark, root)
    ]
    for sub in tables:
        gc_partitions(spark, tdir(sub), retained)
    return True


def write_epoch_partition(df: DataFrame, table_dir: str, epoch: int) -> None:
    """Idempotent epoch write: land the batch in its own ``epoch_id``
    partition via dynamic partition overwrite, so an at-least-once replay
    REPLACES its previous attempt instead of double-counting."""
    (
        df.withColumn("epoch_id", F.lit(int(epoch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(table_dir)
    )


def gc_partitions(
    spark: SparkSession, table_dir: str, manifest: dict | list[dict]
) -> int:
    """Delete epoch_id=... partition directories that NO given manifest
    references (old bases, folded epochs, half-written compaction
    output). Pass the list of every RETAINED manifest when time travel
    is on — gc-ing against only the newest would delete partitions the
    older retained versions still need (the VACUUM horizon is exactly
    "what the retained manifest set references"). Returns the number of
    directories removed. Safe to crash at any point: unreferenced
    directories are invisible to readers."""
    manifests = manifest if isinstance(manifest, list) else [manifest]
    if not manifests or any(m is None for m in manifests):
        # fail SAFE: a None manifest means "never compacted — everything
        # live" on the read path; silently dropping it here would leave an
        # empty liveness set and delete every partition (the pre-retention
        # code raised on None before any delete could happen)
        raise ValueError(
            "gc_partitions: need at least one non-None manifest — gc against "
            "an uncompacted index would delete all live partitions"
        )
    fs, jvm = _fs(spark, table_dir)
    root = jvm.org.apache.hadoop.fs.Path(table_dir)
    if not fs.exists(root):
        return 0
    newest_v = max((m.get("version", 0) for m in manifests), default=0)
    removed = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("epoch_id="):
            continue
        try:
            val = int(name.split("=", 1)[1])
        except ValueError:
            continue
        live = False
        for m in manifests:
            bases = {int(b) for b in m.get("bases", [])}
            min_epoch = int(m["min_epoch"])
            # the newest manifest is the OPEN current view (later epochs
            # keep arriving); older retained ones are frozen snapshots
            if m.get("version", 0) == newest_v or "max_epoch" not in m:
                in_range = val >= min_epoch
            else:
                in_range = min_epoch <= val <= int(m["max_epoch"])
            if in_range or val in bases:
                live = True
                break
        if not live:
            fs.delete(st.getPath(), True)
            removed += 1
    return removed


def read_live_as_of(
    spark: SparkSession,
    table_dir: str,
    index_dir: str,
    version: int,
) -> DataFrame:
    """Time-travel read: the table as the named RETAINED manifest version
    published it (write_manifest(keep_manifests=N) retains versions).
    Valid only while the version's partitions survive compaction gc —
    the VACUUM horizon; a gc'd partition surfaces as a read error, never
    silently newer data."""
    return read_live(
        spark, table_dir, read_manifest(spark, index_dir, version), snapshot=True
    )


def snapshot_dir(root: str, epoch: int) -> str:
    """The directory epoch ``epoch``'s snapshot of ``root`` lives in."""
    return f"{root}/{_SNAP}{int(epoch)}"


def check_snapshot_retention(keep: int) -> int:
    """``keep`` itself, or ValueError when fewer than 2 snapshots would be
    retained: a replayed epoch overwrites ITS OWN snapshot in place, and
    the reader falls back to the one before it while the rewrite has no
    _SUCCESS; with only 1 retained there is no fallback and a mid-rewrite
    crash loses all state."""
    if keep < 2:
        raise ValueError(f"keep_snapshots must be >= 2, got {keep}")
    return keep


def snapshot_epochs(spark: SparkSession, root: str) -> list[int]:
    """Epochs with a published (``_SUCCESS``-marked) snapshot under
    ``root``, ascending.

    NO blanket exception swallow here: fs.exists covers the one
    legitimate empty case (root not created yet); masking a transient
    filesystem error as "no snapshots" would make the next epoch rebuild
    its state from ONE batch and silently wipe all accumulated history.
    Real FS errors must fail the epoch."""
    fs, jvm = _fs(spark, root)
    jp = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(jp(root)):
        return []
    out = []
    for st in fs.listStatus(jp(root)):
        name = st.getPath().getName()
        if not name.startswith(_SNAP):
            continue
        try:
            epoch = int(name[len(_SNAP):])
        except ValueError:  # stray snap=tmp / snap=5.bak artifacts
            continue
        if fs.exists(jp(f"{root}/{name}/_SUCCESS")):
            out.append(epoch)
    return sorted(out)


def read_snapshot(
    spark: SparkSession, root: str, before: int | None = None
) -> DataFrame | None:
    """The newest published snapshot under ``root`` — or, with
    ``before``, the newest one of an epoch < ``before`` — or None when
    there is none."""
    epochs = [
        e for e in snapshot_epochs(spark, root) if before is None or e < before
    ]
    if not epochs:
        return None
    return spark.read.parquet(snapshot_dir(root, epochs[-1]))


def publish_snapshot(
    spark: SparkSession, root: str, df: DataFrame, epoch: int, keep: int
) -> None:
    """Write ``df`` as epoch ``epoch``'s snapshot (Spark's _SUCCESS marker
    switches readers over once the write commits), then delete all but
    the newest ``keep`` published snapshots."""
    keep = check_snapshot_retention(keep)
    df.write.mode("overwrite").parquet(snapshot_dir(root, epoch))
    fs, jvm = _fs(spark, root)
    for old in snapshot_epochs(spark, root)[:-keep]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(snapshot_dir(root, old)), True)
