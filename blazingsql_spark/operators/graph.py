"""Graph operators for dedup canonicalization.

Near-dup detection emits PAIRS (a ≈ b); turning pairs into keep/drop
decisions needs the transitive closure — a≈b≈c must collapse to ONE
canonical doc even when a≉c directly. That is connected components over
the similarity graph, the standard last step of a dedup pipeline
(each component keeps its min-id member).

``connected_components`` offers two algorithms, both deterministic and
producing the identical (node, min-reachable-id) mapping:

- ``star`` (default): two-phase large-star/small-star edge contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) — O(log n) rounds on ANY graph shape, including the deep
  chains that cost min-label propagation O(diameter) rounds. Each phase
  is expressed with a window min (ONE reference to the evolving edge
  table) instead of the textbook group-then-join-back, because a
  per-round self-join squares Catalyst's sizeInBytes estimate each
  iteration even across localCheckpoints (see the plan-size note below).
- ``propagate``: iterative min-label propagation — every node repeatedly
  adopts the smallest label among itself and its neighbors; converges in
  O(component diameter) rounds of one equi-join + one partial-aggregated
  groupBy(min). Cheaper per round; right for known low-diameter clumps
  (the typical near-dup similarity graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 100,
) -> DataFrame:
    """(node, component_id) for every node appearing in ``edges``, where
    component_id is the smallest node id reachable from it. Deterministic;
    converges early (bounded per-round probe — a limit(1).count or a
    2-scalar signature aggregate, never a data collect).

    The round cap is a safety valve, not an answer-shaper: if the loop
    has not converged when it runs out, this RAISES rather than silently
    returning non-minimal labels (the sf0.1 full-registry gate caught
    exactly that: the measured canonicalization graph needs ~60 plain
    propagation rounds, and a silent 25-round cap produced one wrong
    survivor). The star contraction (:func:`_star_components`) converges
    in O(log n) rounds regardless of diameter, so the cap is far from
    binding even on a path graph (measured: a 10k-node chain converges
    in <15 rounds vs 10k rounds of :func:`_propagate_components`).

    Plan-size discipline (measured, not hypothetical): ``localCheckpoint``
    truncates RDD lineage but the LogicalRDD leaf KEEPS the origin plan's
    sizeInBytes statistic, so a per-round self-join SQUARES the estimate
    each iteration; its BigInteger digit count doubles per round and by
    round ~16 the stats visitor grinds million-digit multiplications on
    the driver (observed: single planning thread pinned for 10+ minutes).
    Hence both loops here reference the previous round's table only
    additively (union / window), never join-it-to-itself; joins against
    the fixed ``sym`` table multiply by a constant factor per round,
    which stays a few hundred digits over 100 rounds — negligible."""
    return _star_components(edges, src, dst, max_iterations)


def _propagate_components(
    edges: DataFrame, src: str, dst: str, max_iterations: int
) -> DataFrame:
    """Plain min-label propagation, one round per unit of diameter: the
    reference that :func:`_star_components` is tested against, with
    :func:`connected_components`' output contract and round cap."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neigh = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("lab")
        )
        new_labels = (
            labels.select("node", "lab")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components: not converged after {max_iterations} "
            "rounds — raise max_iterations (labels would be non-minimal)"
        )
    sym.unpersist()
    return labels.select("node", F.col("lab").alias("component_id"))


def _star_components(
    edges: DataFrame, src: str, dst: str, max_iterations: int
) -> DataFrame:
    """Two-phase large-star/small-star contraction (Kiveris et al.,
    SoCC'14): alternately (large-star) hook every node's strictly-larger
    neighbors onto the minimum of its closed neighborhood, then
    (small-star) hook each node and its smaller neighbors onto that
    minimum. The edge set converges to per-component stars rooted at the
    component minimum in O(log n) rounds on any graph shape.

    Both phases compute the neighborhood minimum with a WINDOW min —
    one reference to the evolving edge table — instead of the textbook
    groupBy(min)+join-back, which would self-join the table and square
    the carried sizeInBytes statistic every round (see
    ``connected_components``). Convergence is detected by a 2-scalar
    edge-set signature (count + xxhash64 bit_xor), a bounded 1-row aggregate
    per round. Self-loops contribute no connectivity and are dropped from
    the contraction; nodes left with no edges (self-loop-only) are
    re-added as their own singleton components at the end, so the output
    covers every node appearing in ``edges`` — byte-identical to
    :func:`_propagate_components`' output."""
    wa = Window.partitionBy("a")
    nodes0 = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iterations):
        # large-star: for each node a, m = min(N(a) ∪ {a}); hook every
        # strictly larger neighbor b onto m
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        large = (
            sym.withColumn("m", F.least(F.min("b").over(wa), F.col("a")))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient (larger, smaller); for each node a with
        # smaller neighbors N(a), m = min(N(a)); hook a and every other
        # smaller neighbor onto m
        d = large.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        small = (
            d.withColumn("m", F.min("b").over(wa))
            .select(
                F.when(F.col("b") == F.col("m"), F.col("a"))
                .otherwise(F.col("b"))
                .alias("a"),
                F.col("m").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # lazy checkpoint (r13): the signature aggregate right below is a
        # FULL pass over every partition of e, so it materializes the
        # checkpoint inside its own job — eager=True ran a separate
        # materialization job first, doubling the per-round job count
        # (2 jobs/round -> 1; micro-batch CC latency is job-count-bound)
        e = small.localCheckpoint(eager=False)
        # set signature: count + XOR of per-edge hashes (order-independent,
        # overflow-free under ANSI mode; e is distinct so set semantics apply)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components(star): not converged after "
            f"{max_iterations} rounds — raise max_iterations"
        )
    # at the fixed point e is exactly {(v, component_min) : v != min};
    # add the roots mapping to themselves, then any singleton nodes
    members = e.select(F.col("a").alias("node"), F.col("b").alias("component_id")).union(
        e.select(F.col("b").alias("node"), F.col("b").alias("component_id")).distinct()
    )
    singletons = nodes0.join(
        members.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component_id"))
    return members.union(singletons)


def incremental_components(
    labels: DataFrame | None,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 100,
) -> DataFrame:
    """Maintain (node, component_id) labels as edge batches arrive,
    WITHOUT recomputing components over the full edge history — the
    cross-epoch completion of the streaming dedup pipeline (per-batch
    near-dup pairs arrive forever; transitive clusters must stay
    consistent across batches).

    Per batch, cost is bounded by the BATCH, not the graph:

    1. Solve a mini-CC over ``new_edges ∪ {(node, old_label)}`` for the
       batch's touched nodes only — the old label IS a member node id
       (the component minimum), so one virtual edge per touched node
       splices the existing component in by proxy; merging two old
       components through any chain of new edges resolves transitively
       inside the mini graph, which is batch-sized.
    2. Read off an old_label -> new_label mapping (the mini labels of
       the old representatives) and broadcast-apply it to the labels
       table: a map-only pass, no shuffle of the big side. Untouched
       components never appear in the mapping and pass through.
    3. Union in the batch's brand-new nodes (mini labels are already
       final for them) and merge by min.

    Result is IDENTICAL to ``connected_components`` over the union of
    every batch so far (differential-tested across multi-batch merge
    chains). Label stability caveat: component ids are the component-min
    node id, so an absorbed component's id changes — downstream keep-set
    logic must key on the CURRENT labels table, same as the batch
    operator.

    Scale notes: step 3's final merge shuffles the labels table on node;
    keep the labels table BUCKETED on node (operators.skew.bucketed_table)
    to make that exchange-free, or accept one labels-table shuffle per
    batch. The mapping broadcast is |merged old components| rows —
    batch-bounded."""
    ne = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if labels is None:
        return connected_components(ne, "src", "dst", max_iterations)

    touched = (
        ne.select(F.col("src").alias("node"))
        .union(ne.select(F.col("dst").alias("node")))
        .distinct()
    )
    old_touched = labels.join(F.broadcast(touched), "node").select(
        "node", "component_id"
    )
    mini_edges = ne.union(
        old_touched.select(
            F.col("node").alias("src"), F.col("component_id").alias("dst")
        )
    )
    mini = connected_components(mini_edges, "src", "dst", max_iterations).select(
        F.col("node").alias("mnode"), F.col("component_id").alias("new_comp")
    )
    # mapping: the old representatives present in the mini graph — exactly
    # the component ids of the touched nodes (batch-bounded; scanning the
    # full labels table for distinct ids here would defeat the point)
    mapping = mini.join(
        F.broadcast(
            old_touched.select(F.col("component_id").alias("mnode")).distinct()
        ),
        "mnode",
    ).select(F.col("mnode").alias("component_id"), "new_comp")
    remapped = (
        labels.join(F.broadcast(mapping), "component_id", "left")
        .select(
            "node",
            F.coalesce(F.col("new_comp"), F.col("component_id")).alias("component_id"),
        )
    )
    return (
        remapped.union(mini.select(F.col("mnode").alias("node"), F.col("new_comp").alias("component_id")))
        .groupBy("node")
        .agg(F.min("component_id").alias("component_id"))
    )


def canonical_docs(
    pairs: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Keep-set after transitive dedup: every document maps to its
    component's min id (itself, if it appears in no near-dup pair); keep
    rows where doc_id == canonical_id."""
    comp = connected_components(pairs, pair_a, pair_b)
    with_comp = all_docs.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("canonical_id", F.coalesce(F.col("component_id"), F.col(id_col)))
    return with_comp.filter(F.col(id_col) == F.col("canonical_id")).drop(
        "component_id", "canonical_id"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    redistribute_dangling: bool = True,
) -> DataFrame:
    """(node, rank) after a FIXED number of power iterations with uniform
    teleport — rank-based importance over a link/similarity graph (e.g.
    weighting crawl documents by citation structure before sampling).

    Fixed iteration count keeps the result deterministic and
    SQL-oracle-able (the oracle unrolls the same iterations). Each round
    is one equi-join (contributions along edges) + one partial-aggregated
    groupBy sum, localCheckpoint'ed — the same O(iter) lineage discipline
    as ``connected_components`` and the k-means loops.

    Dangling mass (rank held by nodes with no out-edges) is redistributed
    uniformly each round by default — the standard correction, and the
    one that conserves total rank == 1. The per-round dangling sum is a
    bounded 1-row aggregate (a scalar ``first()``, not a data collect).
    Pass ``redistribute_dangling=False`` for the leaky textbook variant
    when an external oracle unrolls the uncorrected recurrence: the
    correction term is a GLOBAL float sum whose addition order differs
    across engines, so it cannot be grid-compared engine-exactly.

    The out-degree join is left to the optimizer (AQE broadcasts it when
    small): outdeg is O(|nodes|), so a mandatory broadcast hint would OOM
    every executor on a web-scale graph.

    Float portability: the damping/teleport constants enter as plain
    literals (never derived arithmetically, e.g. 1-d), so both engines
    evaluate the identical doubles.
    """
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = (
        sym.select(F.col("s").alias("node"))
        .union(sym.select(F.col("d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # bounded driver scalar (a count, not data)
    # literals, not arithmetic: (1-0.85) in Python is 0.1499999...; the
    # SQL oracle's 0.15 parses to the nearest double OF THE DECIMAL — so
    # round the complement back through its decimal representation
    one_minus_d = float(str(round(1.0 - damping, 10)))
    teleport = one_minus_d / n
    outdeg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("od")).persist()
    dangling = nodes.join(
        outdeg.select(F.col("s").alias("node")), "node", "left_anti"
    ).persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            sym.join(ranks, sym["s"] == ranks["node"])
            .join(outdeg, "s")
            .select(F.col("d").alias("node"), (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        base = F.lit(teleport)
        if redistribute_dangling:
            dmass = (
                dangling.join(ranks, "node")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
            base = base + F.lit(damping * dmass / n)
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    base + F.lit(damping) * F.coalesce(F.col("csum"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    nodes.unpersist()
    outdeg.unpersist()
    dangling.unpersist()
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count via the standard oriented-edge-join algorithm
    (the one every distributed graph engine uses): canonicalize each edge
    to (u < v), deduplicate, then count paths u→v→w whose closing edge
    (u, w) exists. Orientation makes each triangle count exactly once
    (u < v < w) and caps join fan-out by the max out-degree of the
    DEGREE-ORDERED graph — O(m^1.5) work in the worst case, two shuffle
    equi-joins in the plan, no cartesian anywhere.

    Returns a 1-row (n_triangles long) frame. Reference parity: none —
    BlazingSQL has no graph operators; superset alongside
    connected_components/pagerank."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(F.col("e1.u").alias("a"), F.col("e2.u").alias("b"), F.col("e2.v").alias("c"))
    closed = wedges.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))
