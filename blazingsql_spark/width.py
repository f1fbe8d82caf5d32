"""Stage widths, sized from the frame.

Every task-count decision of the package lives here, and each reads
what Spark already knows about the frame it sizes, with no job:

- :func:`fan_out` widens a scan that cannot reach the cores, from the
  footers of the files the frame's plan reads;
- :func:`python_width` sizes a Python stage on Catalyst's size estimate
  of its input, or on the input's planned partitions when the estimate
  is unknown;
- :func:`shuffle_width` is the width of a stage that pins its own hash or
  range exchange: ``spark.sql.shuffle.partitions``.

The reference makes the same decisions inside the engine, from the data:
it slices a table's row groups across workers
(``pyblazing/apiv2/context.py:2789`` ``_sliceRowGroups``) and scatters
joins on size estimates (``BatchJoinProcessing.cpp:672-743``).
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

# (scan splits, rows) of a layout whose footers cannot be read: no files,
# a non-local URI, a directory or a broken footer. Splits this high never
# trigger a repartition.
_UNKNOWN = (1 << 30, 1 << 62)

# Catalyst's size estimate of a leaf it knows nothing about (a frame
# built from Python rows or an RDD): spark.sql.defaultSizeInBytes.
_LONG_MAX = (1 << 63) - 1

# Input bytes (Catalyst's estimate of the frame a Python stage receives)
# per Python task. A Python task has a fixed cost of about 0.27 s CPU,
# measured on events_match_recognize: most of it is PySpark's per-task
# worker setup (setup_spark_files calls importlib.invalidate_caches(),
# which re-reads 16 zip directories), the rest Arrow framing. Matching
# costs about 0.12 s per 230 KB of classified events with every column
# (sf0.01, 150 keys), so a task pays its fixed cost again in matching
# only past about 500 KB of such input. 384 KB keeps each task's matching
# near its fixed cost: the sf0.01 events rows run in one task (229 KB
# with every column, 97 KB as events_match_recognize ships it), and sf0.1
# (2.12 MB with every column, 895 KB shipped) sizes to 6 tasks and to 3,
# at most spark.sql.shuffle.partitions.
_PY_TASK_BYTES = 384 << 10


def shuffle_width(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions``: the width of a stage that pins
    its own exchange (a range-partitioned prefix sum, a Python stage
    whose cost is not its bytes), which AQE's coalescing leaves alone."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def _scan_layout(paths: list[str], max_bytes: int) -> tuple[int, int]:
    """(effective scan-split count, row count) of the parquet files at
    ``paths``, from their footers; ``_UNKNOWN`` when one is unreadable."""
    from blazingsql_spark.sources.io import parquet_footer

    splits = rows = 0
    for path in paths:
        size, meta = parquet_footer(path)
        if meta is None:
            return _UNKNOWN
        # parquet split granularity is the row group: a byte-range
        # split can't run more tasks than there are row groups
        splits += min(meta.num_row_groups, max(1, -(-size // max_bytes)))
        rows += meta.num_rows
    return splits, rows


def fan_out(df: DataFrame, per_task_rows: int | None = None) -> DataFrame:
    """Restore scan parallelism for compute-heavy consumers (guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately
    after the read"): the local fixtures are single-row-group parquet
    files, so every scan is ONE task and tokenize/signature/projection
    work serializes on one core. The scan splits and rows come from the
    footers of the files ``df``'s plan reads (``df.inputFiles()``, no
    job), so a projection, filter, union or join of a table gets that
    table's layout. When the scan cannot reach at least a quarter of the
    cores, round-robin repartition — to the full core count when per-row
    work dominates (the default: brute-force pair scoring, tokenizers),
    or to a size-aware width ``min(cores, ceil(rows / per_task_rows))``
    when the caller knows the per-row work is light and full-width
    tasks would be mostly scheduling overhead (VERDICT r12 #1: 32-way
    oversharding of a 2k-row table probed by ~18 sequential jobs cost
    more than it bought). ``rows`` there is the footers' row count, not
    a count of ``df``: the size-aware width assumes ``df`` keeps the
    cardinality of the files it reads (a projection or a light filter),
    and a ``df`` that aggregates or explodes them gets a width sized for
    the files instead. A frame with no readable local parquet footer (no
    files, another URI scheme, a directory) is left as it is. On a real
    deployment the inputs are many files / many row groups, the
    condition is false, and NO repartition is injected — the corpus is
    never reshuffled just to fan out. Deterministic: keyless repartition
    local-sorts its input first (spark.sql.execution.sortBeforeRepartition,
    default on)."""
    spark = df.sparkSession
    # the files the plan reads (no job); only local ones have footers here
    uris = [urlparse(uri) for uri in df.inputFiles()]
    if not uris or any(uri.scheme != "file" for uri in uris):
        return df
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    splits, rows = _scan_layout([unquote(uri.path) for uri in uris], max_bytes)
    cores = spark.sparkContext.defaultParallelism
    if splits < max(2, cores // 4):
        width = cores
        if per_task_rows is not None:
            width = min(cores, max(2, -(-rows // per_task_rows)))
        return df.repartition(width)
    return df


def _size(plan) -> int:
    # a Scala BigInt: py4j hands back an int or a proxy whose str() is
    # the decimal value
    return int(str(plan.stats().sizeInBytes()))


def python_width(df: DataFrame) -> int:
    """Task count of a Python stage over ``df``, capped at
    :func:`shuffle_width`: Catalyst's size estimate of ``df`` over
    ``_PY_TASK_BYTES``, from the optimized plan's statistics (no job).
    When a leaf of the plan has no estimate (one built from Python rows
    or an RDD reports Long.MaxValue), each leaf counts on its own: an
    RDD leaf its planned partitions, a sized leaf its bytes over
    ``_PY_TASK_BYTES``, any other the cap."""
    cap = shuffle_width(df.sparkSession)
    plan = df._jdf.queryExecution().optimizedPlan()
    seq = plan.collectLeaves()
    leaves = [seq.apply(i) for i in range(seq.size())]
    sizes = [_size(leaf) for leaf in leaves]
    if all(size < _LONG_MAX for size in sizes):
        tasks = -(-_size(plan) // _PY_TASK_BYTES)
    else:
        tasks = sum(
            -(-size // _PY_TASK_BYTES) if size < _LONG_MAX
            else leaf.rdd().getNumPartitions() if leaf.nodeName() == "LogicalRDD" else cap
            for leaf, size in zip(leaves, sizes)
        )
    return max(1, min(cap, tasks))
