"""Document packing: assign documents to fixed-token-budget training
sequences ("packs") — the standard LLM-pretraining data layout step
(concatenate docs in a stable order, cut every `budget` tokens).

Semantics (deterministic, engine-portable): documents are laid out
contiguously in ``order_by`` order; a document's pack is the pack its FIRST
token lands in (``pack_id = start_offset DIV budget``), its offset within
that pack is ``start_offset % budget``, and ``spills`` flags documents that
cross a pack boundary (a downstream tokenizer either truncates these or
continues into the next pack — both policies need exactly this layout).

Scale shape: the cumulative token offset is a GLOBAL prefix sum — computed
with operators.window.global_running (range-partitioned chunked two-pass
aggregation), so no single-partition window ever sees the corpus. All
arithmetic is integer, so results are bit-identical across engines and
partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blazingsql_spark.functions import text as text_fns
from blazingsql_spark.operators.window import global_running


def pack_documents(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_counter=None,
) -> DataFrame:
    """Returns (id, n_tokens, pack_id, pack_offset, spills) per document.

    ``token_counter``: Column-function text → token count; defaults to the
    whitespace counter (functions.text.token_count). Swap in
    ``bpe_ish_token_count`` or a real tokenizer-length column upstream.
    ``order_by`` is the id column — it must be unique (it defines the
    deterministic concatenation order).
    """
    counter = token_counter or text_fns.token_count
    tokens: Column = counter(F.col(text_col))
    base = df.select(F.col(id_col), tokens.cast("long").alias("n_tokens"))
    cum = global_running(base, order_by=[id_col], sum_cols={"cum_tokens": "n_tokens"})
    start = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.expr(f"(cum_tokens - n_tokens) DIV {int(budget)}").alias("pack_id"),
        (start % F.lit(int(budget))).alias("pack_offset"),
        ((start % F.lit(int(budget))) + F.col("n_tokens") > F.lit(int(budget))).alias(
            "spills"
        ),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The complement of pack_documents: SPLIT long documents into
    overlapping token windows of at most ``max_tokens`` (stride
    ``max_tokens - overlap``) — the context-window chunking step for
    training or retrieval indexing.

    Per-row arithmetic + one posexplode: chunk i of a doc covers tokens
    [i*stride, i*stride + max_tokens); a doc emits
    ceil((n_tokens - max_tokens)/stride) + 1 chunks (min 1, so empty docs
    survive as one empty chunk and row counts stay auditable). No shuffle,
    no state — scan-side, like every per-document op here. Deterministic
    integer math + whitespace tokens, so DuckDB computes the identical
    chunking (list slicing is 1-based inclusive on both sides).
    """
    assert 0 <= overlap < max_tokens
    stride = max_tokens - overlap
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    n = F.size(toks)
    n_chunks = F.when(
        n > max_tokens,
        F.floor((n - max_tokens + stride - 1) / stride).cast("int") + 1,
    ).otherwise(F.lit(1))
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            # posexplode's 0-based position IS the chunk id
            F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id", "__i"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, max_tokens),
                " ",
            ).alias("chunk_text"),
        )
        .withColumn(
            "n_chunk_tokens",
            F.when(F.length("chunk_text") == 0, F.lit(0)).otherwise(
                F.size(F.split(F.col("chunk_text"), " "))
            ),
        )
    )


def bin_pack_documents(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_counter=None,
) -> DataFrame:
    """Padding-free sample packing WITHOUT splitting documents — the LLM
    training layout where each pack holds whole documents summing to at
    most ``budget`` tokens (pack_documents above is the contiguous
    splitting layout; this is the no-split one).

    Scale shape (the histogram method, cf. Graphcore's sequence-packing
    note): exact bin packing is NP-hard and first-fit-decreasing over
    individual documents is a sequential O(corpus) loop — a driver
    killer. Instead the LENGTH HISTOGRAM (at most ``budget`` rows — docs
    longer than budget get a flagged singleton pack) is collected, a
    greedy largest-fit loop over the histogram emits packing STRATEGIES
    (length mixes summing <= budget, each with an instance count), and
    every document is assigned arithmetically from its rank within its
    length group against the broadcast strategy table. The corpus is
    touched twice (count tokens; rank within length — a PARTITIONED
    window) and never collected.

    Returns (id, n_tokens, pack_id, pack_offset, oversize). Deterministic:
    ranks order by id, strategies by construction order.
    """
    import pandas as pd

    counter = token_counter or text_fns.token_count
    b = int(budget)
    base = df.select(
        F.col(id_col), counter(F.col(text_col)).cast("long").alias("n_tokens")
    )
    fit = base.filter(F.col("n_tokens") <= b)
    hist = {
        int(r["n_tokens"]): int(r["n"])
        for r in fit.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    # Greedy largest-fit over the histogram: open a strategy with the
    # largest remaining length, fill with the largest lengths that still
    # fit, stamp out min-count instances. Each iteration zeroes at least
    # one length's count or is bounded by budget fills, so the loop is
    # O(distinct-lengths * budget) — budget-bounded, corpus-independent.
    remaining = dict(hist)
    strategies: list[tuple[list[int], int]] = []  # (lengths desc, m copies)
    while any(c > 0 for c in remaining.values()):
        lengths = sorted((l for l, c in remaining.items() if c > 0), reverse=True)
        comp: list[int] = []
        room = b
        for length in lengths:
            avail = remaining[length] - comp.count(length)
            while avail > 0 and length <= room:
                comp.append(length)
                room -= length
                avail -= 1
        m = min(remaining[length] // comp.count(length) for length in set(comp))
        m = max(m, 1)
        for length in set(comp):
            remaining[length] -= m * comp.count(length)
        strategies.append((comp, m))

    # per-length slot map: (length, first_global_rank, strategy_idx,
    # slots_per_instance, instance_base, offset_of_first_slot, stride)
    pack_base = 0
    rows = []
    seen_rank: dict[int, int] = {length: 0 for length in hist}
    for s_idx, (comp, m) in enumerate(strategies):
        offsets: dict[int, list[int]] = {}
        off = 0
        for length in comp:  # comp is built largest-first
            offsets.setdefault(length, []).append(off)
            off += length
        for length, offs in offsets.items():
            k = len(offs)
            for j, o in enumerate(offs):
                rows.append(
                    (
                        length,
                        seen_rank[length] + j,  # rank of slot j in instance 0
                        k,  # ranks advance by k per instance
                        pack_base,
                        m,
                        o,
                    )
                )
            seen_rank[length] += m * k
        pack_base += m
    n_packs = pack_base
    spark = df.sparkSession
    slot_tbl = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["n_tokens", "rank0", "stride", "pack_base", "m", "slot_offset"],
        ).astype("int64")
    )

    w = Window.partitionBy("n_tokens").orderBy(id_col)
    ranked = fit.withColumn("__rank", F.row_number().over(w) - 1)
    assigned = (
        ranked.join(F.broadcast(slot_tbl), "n_tokens")
        .filter(
            ((F.col("__rank") - F.col("rank0")) % F.col("stride") == 0)
            & (F.col("__rank") >= F.col("rank0"))
            & ((F.col("__rank") - F.col("rank0")) / F.col("stride") < F.col("m"))
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.col("pack_base")
                + ((F.col("__rank") - F.col("rank0")) / F.col("stride")).cast("long")
            ).alias("pack_id"),
            F.col("slot_offset").alias("pack_offset"),
            F.lit(False).alias("oversize"),
        )
    )
    # oversize docs each get a flagged singleton pack after the packed
    # range; numbering via the DISTRIBUTED prefix counter (an unbounded
    # oversize population must not hit a single-partition window)
    oversize = global_running(
        base.filter(F.col("n_tokens") > b),
        order_by=[id_col],
        row_number_as="__r",
    ).select(
        id_col,
        "n_tokens",
        (F.lit(n_packs) - 1 + F.col("__r")).cast("long").alias("pack_id"),
        F.lit(0).cast("long").alias("pack_offset"),
        F.lit(True).alias("oversize"),
    )
    return assigned.unionByName(oversize)
