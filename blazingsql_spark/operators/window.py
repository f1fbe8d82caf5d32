"""Distributed global (no-PARTITION-BY) window aggregation.

Spark computes an ``OVER (ORDER BY ...)`` window with no PARTITION BY in a
SINGLE partition — at 100 TB that is one executor sorting the world. The
reference hits the same wall and built dedicated overlap kernels
(engine/src/execution_graph/logic_controllers/BatchWindowFunctionProcessing.h:82-89,
OverlapGeneratorKernel / OverlapAccumulatorKernel) to pass
partition-boundary state between workers. The Spark-first equivalent is a
two-pass chunked prefix aggregate:

1. range-partition the rows by the global ordering keys (the same sampled
   range exchange Spark uses for a distributed ORDER BY);
2. compute per-chunk running aggregates with a window PARTITIONed by the
   chunk id — parallel across chunks, each chunk sorted locally;
3. reduce each chunk to ONE row of totals, prefix-sum those totals in a
   single partition of n_chunks rows (trivially small), and broadcast-join
   the per-chunk offsets back onto the chunked partials.

Shuffle cost: the range exchange (unavoidable — the semantics demand a
global order) plus a hash exchange on the chunk id feeding the chunked
window (Catalyst windows require hash partitioning on their PARTITION BY
key), plus an n_chunks-row side table. Two data shuffles where the
reference's overlap kernels use one — but every stage is parallel; no
operator ever holds more than one chunk, and nothing single-partitions
the full dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blazingsql_spark.width import shuffle_width


def global_running(
    df: DataFrame,
    order_by: list[str],
    sum_cols: dict[str, str] | None = None,
    row_number_as: str | None = None,
) -> DataFrame:
    """Add global running (prefix) aggregates over ``order_by`` without a
    single-partition window.

    ``sum_cols`` maps output-column name -> input column for running SUMs;
    ``row_number_as`` names a global ROW_NUMBER()-equivalent column.
    ``order_by`` should be a unique key (ties would make both the global
    sort and ROW_NUMBER nondeterministic, exactly as in SQL).

    Chunked summation REASSOCIATES floating-point addition (partials +
    offset instead of strictly sequential). Feed integer, long, or decimal
    columns when bit-exact cross-engine agreement matters.
    """
    sum_cols = sum_cols or {}
    n = shuffle_width(df.sparkSession)
    order_cols = [F.col(c) for c in order_by]
    part = df.repartitionByRange(n, *order_cols).withColumn(
        "__cid", F.spark_partition_id()
    )

    w_run = (
        Window.partitionBy("__cid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part
    for out, src in sum_cols.items():
        local = local.withColumn(out, F.sum(src).over(w_run))
    if row_number_as:
        local = local.withColumn(
            row_number_as,
            F.row_number().over(Window.partitionBy("__cid").orderBy(*order_cols)),
        )

    # one row per chunk; prefix-summing THIS in a single partition is fine
    # (n_chunks rows, not the data)
    chunk_totals = local.groupBy("__cid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(src).alias(f"__tot_{out}") for out, src in sum_cols.items()],
    )
    w_off = Window.orderBy("__cid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = chunk_totals.select(
        "__cid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off_rn"),
        *[
            F.coalesce(F.sum(f"__tot_{out}").over(w_off), F.lit(0)).alias(f"__off_{out}")
            for out in sum_cols
        ],
    )

    out_df = local.join(F.broadcast(offsets), "__cid")
    for out in sum_cols:
        out_df = out_df.withColumn(out, F.col(out) + F.col(f"__off_{out}"))
    if row_number_as:
        out_df = out_df.withColumn(
            row_number_as, (F.col(row_number_as) + F.col("__off_rn")).cast("long")
        )
    return out_df.drop("__cid", "__off_rn", *[f"__off_{out}" for out in sum_cols])
