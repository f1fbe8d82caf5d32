"""Distributed EXACT percentiles for few-heavy-groups aggregations.

Spark's exact ``percentile`` / ``PERCENTILE_CONT`` aggregate buffers every
value of a group inside ONE task (an in-memory map per group) — with few,
large groups that is a single-executor sort of the whole group, the same
wall the reference's windowing hits and the same wall
``operators.window.global_running`` solves for no-PARTITION windows
(reference overlap kernels:
engine/src/execution_graph/logic_controllers/BatchWindowFunctionProcessing.h:82-89).
Measured here: winsorizing 3 groups × 200k rows via PERCENTILE_CONT was
9.6× slower at 100× data (three tasks do all the work); this rank-based
form stays parallel.

The same chunked two-pass trick applies per group:

1. range-partition rows by (group_keys..., value) — ONE group spans MANY
   chunks, every chunk is locally sorted;
2. per-(chunk, group) local ranks via an ordinary window — parallel;
3. per-(chunk, group) counts collapse to a tiny side table; a prefix sum
   over chunk ids (per group) yields each chunk's global rank offset,
   broadcast back — global rank = local rank + offset with no
   single-partition stage;
4. an order statistic is now an equi-join against the two target ranks
   per (group, quantile), and PERCENTILE_CONT's linear interpolation is
   arithmetic on those two rows.

Exactness: order statistics are well-defined under ties regardless of
tie-break order, and the interpolation formula (pos = q·(n-1),
v = v_lo + (pos - ⌊pos⌋)·(v_hi - v_lo)) is the SQL-standard one both
Spark's and DuckDB's PERCENTILE_CONT implement — results are
bit-identical to the built-in aggregate (property-tested in
tests/test_functions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blazingsql_spark.width import shuffle_width


def group_percentile_cont(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: dict[str, float],
) -> DataFrame:
    """Exact PERCENTILE_CONT per group, distributed.

    Returns one row per group: ``keys...`` plus one column per
    ``quantiles`` entry (output-name -> q in [0, 1]). NULL values are
    excluded (SQL aggregate semantics).
    """
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for name, q in quantiles.items():
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {name}={q} outside [0, 1]")

    n = shuffle_width(df.sparkSession)
    base = df.select(
        *keys, F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())

    key_cols = [F.col(k) for k in keys]
    if keys:
        part = base.repartitionByRange(n, *key_cols, F.col("__v")).withColumn(
            "__cid", F.spark_partition_id()
        )
        ranked = part.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__cid", *keys).orderBy("__v")),
        )
    else:
        # Keyless fast path (r13, guide §2.4): the row_number window above
        # would hash-exchange the whole corpus a SECOND time just to rank
        # within chunks the range exchange already formed. Sort within the
        # range partitions (local sort, no exchange) and read the local
        # rank off monotonically_increasing_id's record number — its low
        # 33 bits, by contract the row's position within the partition.
        # Rank-assignment order among tied values is arbitrary either way;
        # order statistics are well-defined under ties (see module doc).
        part = (
            base.repartitionByRange(n, F.col("__v"))
            .sortWithinPartitions("__v")
            .withColumn("__cid", F.spark_partition_id())
        )
        ranked = part.withColumn(
            "__rn",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1),
        )

    # tiny: n_chunks × n_groups rows
    counts = ranked.groupBy("__cid", *keys).agg(F.count(F.lit(1)).alias("__cnt"))

    # per (group, quantile): the two target ranks + interpolation position
    q_rows = F.array(
        *[
            F.struct(F.lit(name).alias("__qname"), F.lit(float(q)).alias("__q"))
            for name, q in quantiles.items()
        ]
    )
    if keys:
        w_off = (
            Window.partitionBy(*keys)
            .orderBy("__cid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "__cid",
            *keys,
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        )
        totals = counts.groupBy(*keys).agg(F.sum("__cnt").alias("__n"))
    else:
        # Keyless collapse (r13): offsets AND the total come out of ONE
        # 1-row aggregate over counts (n_chunks rows) instead of a window
        # pass plus a second aggregate — each extra consumer of `counts`
        # was a separate tiny AQE stage job, and at micro-benchmark scale
        # the sequential job count is the whole bill. The prefix sum is an
        # O(n_chunks²) expression on ONE row — trivial at any real chunk
        # count.
        stats1 = counts.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__cid"), F.col("__cnt")))
            ).alias("__cc"),
            F.sum("__cnt").alias("__n"),
        )
        offsets = stats1.select(
            F.explode(
                F.transform(
                    F.col("__cc"),
                    lambda x, i: F.struct(
                        x["__cid"].alias("__cid"),
                        F.aggregate(
                            F.slice(F.col("__cc"), F.lit(1), i),
                            F.lit(0).cast("bigint"),
                            lambda a, y: a + y["__cnt"],
                        ).alias("__off"),
                    ),
                )
            ).alias("__x")
        ).select(F.col("__x.__cid").alias("__cid"), F.col("__x.__off").alias("__off"))
        totals = stats1.select("__n")

    # offsets is n_chunks x n_groups rows: bounded ONLY when the group-key
    # cardinality is — with no keys it is n_chunks rows (hint it); with
    # keys it scales with the group count, so the join strategy is left to
    # AQE (a forced broadcast of per-group offsets over, say, billions of
    # users would OOM every executor — same hazard class as the pagerank
    # outdeg hint removed in round 4)
    off_side = offsets if keys else F.broadcast(offsets)
    globally_ranked = ranked.join(off_side, ["__cid", *keys]).withColumn(
        "__grank", (F.col("__rn") + F.col("__off")).cast("long")
    )

    targets = (
        totals.select(*keys, "__n", F.explode(q_rows).alias("__qs"))
        .select(
            *keys,
            F.col("__qs.__qname").alias("__qname"),
            (F.col("__qs.__q") * (F.col("__n") - 1)).alias("__pos"),
        )
        .select(
            *keys,
            "__qname",
            "__pos",
            (F.floor("__pos") + 1).cast("long").alias("__rank_lo"),
            (F.ceil("__pos") + 1).cast("long").alias("__rank_hi"),
        )
    )

    # order-statistic lookup: equi-join against the two target ranks.
    # targets is n_groups x |quantiles| rows — AQE-decided when keyed
    # (unbounded group counts), forced broadcast only in the keyless case
    # where it is exactly |quantiles| rows
    hit = (
        globally_ranked.join(targets, [*keys])
        if keys
        else globally_ranked.crossJoin(F.broadcast(targets))
    ).filter(
        (F.col("__grank") == F.col("__rank_lo"))
        | (F.col("__grank") == F.col("__rank_hi"))
    )
    if not keys:
        # Keyless collapse (r13): every quantile's lo/hi order statistic
        # and its interpolation position come out of ONE global aggregate
        # (conditional mins over ≤ 2·|quantiles| rows) instead of a
        # groupBy + a pivot — two more tiny exchanges gone. Interpolation
        # below is the identical lo*(1-frac) + hi*frac expression.
        aggs = []
        for name in quantiles:
            is_q = F.col("__qname") == F.lit(name)
            aggs += [
                F.min(
                    F.when(
                        is_q & (F.col("__grank") == F.col("__rank_lo")),
                        F.col("__v"),
                    )
                ).alias(f"__lo_{name}"),
                F.min(
                    F.when(
                        is_q & (F.col("__grank") == F.col("__rank_hi")),
                        F.col("__v"),
                    )
                ).alias(f"__hi_{name}"),
                F.min(F.when(is_q, F.col("__pos"))).alias(f"__pos_{name}"),
            ]
        one = hit.agg(*aggs)
        out = []
        for name in quantiles:
            fr = F.col(f"__pos_{name}") - F.floor(f"__pos_{name}")
            out.append(
                (
                    F.col(f"__lo_{name}") * (F.lit(1.0) - fr)
                    + F.col(f"__hi_{name}") * fr
                ).alias(name)
            )
        return one.select(*out)

    # ranks are unique per group, so each side of the when() sees exactly
    # one row; when pos is integral rank_lo == rank_hi and both pick it
    picked = hit.groupBy(*keys, "__qname", "__pos").agg(
        F.min(F.when(F.col("__grank") == F.col("__rank_lo"), F.col("__v"))).alias(
            "__v_lo"
        ),
        F.min(F.when(F.col("__grank") == F.col("__rank_hi"), F.col("__v"))).alias(
            "__v_hi"
        ),
    )
    # lo*(1-frac) + hi*frac — the exact op order Spark's Percentile and
    # DuckDB's PERCENTILE_CONT both evaluate (lo + frac*(hi-lo) differs in
    # the last ulp; measured)
    frac = F.col("__pos") - F.floor("__pos")
    interp = picked.select(
        *keys,
        "__qname",
        (F.col("__v_lo") * (F.lit(1.0) - frac) + F.col("__v_hi") * frac).alias(
            "__val"
        ),
    )
    return interp.groupBy(*keys).pivot("__qname", list(quantiles)).agg(
        F.first("__val")
    )


def holt_linear(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 3,
):
    """Per-key Holt linear-trend exponential smoothing (the classic
    level+trend forecaster; EWMA is the trendless special case):

        l_t = α·y_t + (1-α)·(l + b)
        b_t = β·(l_t - l) + (1-β)·b          init: l=y_0, b=y_1-y_0

    and the h-step forecast l + h·b. The recursion runs as ONE
    `aggregate` fold over each key's ordered value array — both the fold
    and its SQL twin evaluate the identical IEEE expression tree, so the
    operator is bit-differential-testable (DuckDB's list_reduce mutates
    STRUCT accumulators field-sequentially — a measured 1.0.0 quirk — so
    the state is a 2-element DOUBLE array on both engines).

    Scale shape: one groupBy collecting each key's series (state is
    bounded by the per-key series length — pre-aggregate to a coarser
    grain upstream if keys carry unbounded histories), then a pure
    expression fold; no iteration in the driver, no window over the
    corpus. Keys with fewer than 2 observations are dropped (the init
    needs two points). Returns key cols + (n_obs, level, trend,
    forecast)."""
    a, b1 = float(alpha), float(beta)
    a1, b2 = 1.0 - a, 1.0 - b1
    h = int(horizon)
    ordered = df.groupBy(*key_cols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("v")))
        ).alias("__s")
    )
    ys = F.transform(F.col("__s"), lambda r: r["v"].cast("double"))
    with_ys = ordered.select(*key_cols, ys.alias("__ys")).filter(
        F.size("__ys") >= 2
    )
    y0 = F.element_at("__ys", 1)
    y1 = F.element_at("__ys", 2)
    init = F.array(y0, y1 - y0)
    rest = F.transform(
        F.expr("slice(__ys, 2, size(__ys) - 1)"), lambda y: F.array(y, F.lit(0.0))
    )

    def smooth(acc, x):
        nl = F.lit(a) * x[0] + F.lit(a1) * (acc[0] + acc[1])
        nb = (
            F.lit(b1) * ((F.lit(a) * x[0] + F.lit(a1) * (acc[0] + acc[1])) - acc[0])
            + F.lit(b2) * acc[1]
        )
        return F.array(nl, nb)

    st = F.aggregate(rest, init, smooth)
    return with_ys.select(
        *key_cols,
        F.size("__ys").cast("long").alias("n_obs"),
        st[0].alias("level"),
        st[1].alias("trend"),
        (st[0] + F.lit(float(h)) * st[1]).alias("forecast"),
    )
