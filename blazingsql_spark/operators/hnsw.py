"""HNSW-style graph ANN as a COARSE PROBE accelerator.

The reference exposes GPU brute-force / IVF-style similarity search only;
graph indexes (HNSW) are the remaining ANN family here (ROADMAP r3 #3,
VERDICT r4 #7). HNSW construction is inherently sequential — every insert
greedy-searches the graph built so far — so a faithful distributed build
does not exist anywhere (hnswlib, faiss, Lucene all build single-node).
The Spark-honest shape is therefore:

- The GRAPH lives over the bounded coarse table (the IVF centroids /
  a sampled landmark set: 10^3..10^6 rows), built ONCE driver-side in
  numpy and shipped to executors inside an Arrow-batched pandas UDF
  closure (one broadcast, reused by every batch).
- The CORPUS side never changes shape: vectors are assigned to their
  nearest landmark (map-only pass, similarity.assign_to_centroids), and
  candidate retrieval stays an equi-join on ``centroid_id`` — the same
  billion-scale plan as IVF/IVF-PQ.
- What HNSW replaces is the brute-force coarse probe: picking the
  n_probe nearest of N landmarks per query costs O(N·dim) with the
  broadcast scan, O(ef·M·dim·log N) with the graph — the difference
  between 10^6 dot products per query and ~10^3 at a million landmarks.

Search quality: with ``ef >= N`` the layer-0 search degenerates to an
exhaustive scan of every REACHABLE node; build_hnsw ends with a
reachability sweep that re-links any node orphaned by Algorithm-4
reverse-link pruning, so the probe is EXACTLY the brute-force
top-n_probe (same (sim desc, id asc) order) — differential-tested.
Recall at small ``ef`` is the usual HNSW trade-off, telemetered like
the other ANN tiers.

Reference parity note: BlazingSQL has no ANN operator at all
(SURVEY.md §2 maps its similarity surface to brute-force SQL); this
module is part of the training-data-pipeline superset.
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class HnswGraph:
    """In-memory HNSW over L2-normalized points; cosine similarity
    (distance = -dot). Plain numpy arrays so the object pickles cleanly
    into a pandas UDF closure."""

    def __init__(self, points: np.ndarray, levels: np.ndarray, layers: list[dict[int, list[int]]], entry: int):
        self.points = points          # (n, dim) float32, L2-normalized
        self.levels = levels          # (n,) int level per point
        self.layers = layers          # layers[l][node] -> neighbor list
        self.entry = entry            # entry point id (max level)

    @property
    def n(self) -> int:
        return self.points.shape[0]


def _select_neighbors_heuristic(
    points: np.ndarray, cands: list[tuple[float, int]], m: int
) -> list[int]:
    """Malkov & Yashunin Algorithm 4: walk candidates by decreasing
    similarity to the query and keep e only if it is MORE similar to the
    query than to any already-kept neighbor — the diversity rule that
    keeps the graph navigable. Plain top-M clusters the neighbor list on
    one side of the node and greedy search dead-ends (measured: recall@4
    0.29 -> 0.85+ at 65k random points, ef=64)."""
    ordered = sorted(cands, key=lambda t: (-t[0], t[1]))
    kept: list[int] = []
    for sim_q, e in ordered:
        if len(kept) >= m:
            break
        if not kept or sim_q > float(np.max(points[kept] @ points[e])):
            kept.append(e)
    if len(kept) < m:  # backfill with the nearest skipped ones
        seen = set(kept)
        for _, e in ordered:
            if len(kept) >= m:
                break
            if e not in seen:
                kept.append(e)
    return kept


def _search_layer(
    points: np.ndarray,
    adj: dict[int, list[int]],
    q: np.ndarray,
    entries: list[int],
    ef: int,
) -> list[tuple[float, int]]:
    """Best-first search of one layer: returns up to ef (sim, id) pairs,
    unsorted. Deterministic: ties expand smaller ids first (heap key
    includes the id)."""
    sims = {e: float(points[e] @ q) for e in entries}
    # max-heap on sim via negation; id tiebreak ascending
    cand = [(-s, e) for e, s in sims.items()]
    heapq.heapify(cand)
    # result kept as a min-heap of (sim, -id): the root is the WORST kept
    # pair under the (sim desc, id asc) preference order, so a tie at the
    # boundary evicts the larger id deterministically
    result = [(s, -e) for e, s in sims.items()]
    heapq.heapify(result)
    while len(result) > ef:
        heapq.heappop(result)
    visited = set(sims)
    while cand:
        negs, c = heapq.heappop(cand)
        worst = result[0][0] if len(result) >= ef else -np.inf
        if -negs < worst:
            break
        neigh = [x for x in adj.get(c, ()) if x not in visited]
        if not neigh:
            continue
        visited.update(neigh)
        nsims = points[neigh] @ q
        for x, s in zip(neigh, nsims):
            s = float(s)
            worst = result[0][0] if len(result) >= ef else -np.inf
            if s > worst or len(result) < ef:
                heapq.heappush(cand, (-s, x))
                heapq.heappush(result, (s, -x))
                if len(result) > ef:
                    heapq.heappop(result)
    return [(s, -ni) for s, ni in result]


def build_hnsw(points: np.ndarray, m: int = 8, ef_construction: int = 64, seed: int = 42) -> HnswGraph:
    """Sequential HNSW construction (Malkov & Yashunin 2016, Algorithm 1)
    over ≤10^6 landmark points, driver-side. Deterministic for a given
    seed: levels come from a seeded RNG, all tie-breaks are by id."""
    pts = np.asarray(points, dtype=np.float32)
    norms = np.linalg.norm(pts, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    pts = pts / norms
    n = pts.shape[0]
    if n == 0:
        raise ValueError("cannot build an HNSW graph over zero points")
    ml = 1.0 / np.log(m)
    rng = np.random.default_rng(seed)
    levels = np.floor(-np.log(rng.uniform(1e-12, 1.0, size=n)) * ml).astype(np.int64)
    max_level = int(levels.max())
    layers: list[dict[int, list[int]]] = [dict() for _ in range(max_level + 1)]
    entry = 0
    entry_level = int(levels[0])
    for lvl in range(entry_level + 1):
        layers[lvl][0] = []
    for i in range(1, n):
        li = int(levels[i])
        q = pts[i]
        ep = [entry]
        # zoom down through layers above the insert level (greedy, ef=1)
        for lvl in range(entry_level, li, -1):
            best = _search_layer(pts, layers[lvl], q, ep, 1)
            ep = [max(best, key=lambda t: (t[0], -t[1]))[1]]
        # insert with ef_construction search on each layer ≤ li
        for lvl in range(min(li, entry_level), -1, -1):
            found = _search_layer(pts, layers[lvl], q, ep, ef_construction)
            m_max = m if lvl > 0 else 2 * m
            neigh = _select_neighbors_heuristic(pts, found, m)
            layers[lvl][i] = neigh
            for x in neigh:
                links = layers[lvl].setdefault(x, [])
                links.append(i)
                if len(links) > m_max:
                    sims = pts[links] @ pts[x]
                    keep = _select_neighbors_heuristic(
                        pts, list(zip(map(float, sims), links)), m_max
                    )
                    layers[lvl][x] = keep
            ep = [t[1] for t in found]
        if li > entry_level:
            for lvl in range(entry_level + 1, li + 1):
                layers[lvl][i] = []
            entry, entry_level = i, li
    # Reachability repair: Algorithm-4 reverse-link pruning can orphan a
    # node on layer 0 once neighbor lists saturate (no in-links ⇒ best-first
    # search can never visit it), which would silently break the
    # "ef >= n is exact" contract outside the small-n regime. One
    # exhaustive ef=n sweep from the entry finds every reachable node;
    # each straggler gets an in-link from its nearest reachable neighbor
    # (appended without re-pruning — the bounded m_max0 overshoot is the
    # price of guaranteed connectivity). One pass suffices: every repaired
    # node hangs off an already-reachable one.
    reached = {i for _, i in _search_layer(pts, layers[0], pts[entry], [entry], n)}
    if len(reached) < n:
        reach_ids = np.array(sorted(reached), dtype=np.int64)
        for u in range(n):
            if u not in reached:
                sims = pts[reach_ids] @ pts[u]
                r = int(reach_ids[np.lexsort((reach_ids, -sims))[0]])
                layers[0].setdefault(r, []).append(u)
                reached.add(u)
    return HnswGraph(pts, levels, layers, entry)


def hnsw_search(graph: HnswGraph, q: np.ndarray, k: int, ef: int = 64) -> list[int]:
    """Top-k point ids for one query, most-similar first, ties by smaller
    id. ``ef >= graph.n`` makes this exact."""
    qv = np.asarray(q, dtype=np.float32)
    nrm = np.linalg.norm(qv)
    if nrm > 0:
        qv = qv / nrm
    ep = [graph.entry]
    entry_level = int(graph.levels[graph.entry])
    for lvl in range(entry_level, 0, -1):
        best = _search_layer(graph.points, graph.layers[lvl], qv, ep, 1)
        ep = [max(best, key=lambda t: (t[0], -t[1]))[1]]
    found = _search_layer(graph.points, graph.layers[0], qv, ep, max(ef, k))
    found.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in found[:k]]


def graph_from_centroids(
    centroids: DataFrame, m: int = 8, ef_construction: int = 64
) -> tuple[HnswGraph, np.ndarray]:
    """Collect the bounded coarse table and build the graph driver-side.
    Returns (graph, centroid_ids) — the prebuilt artifact callers can
    persist (save_hnsw_index) or pass back into the probe functions."""
    rows = centroids.select("centroid_id", "centroid").orderBy("centroid_id").collect()
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    pts = np.array([r["centroid"] for r in rows], dtype=np.float32)
    return build_hnsw(pts, m=m, ef_construction=ef_construction), cids


def save_hnsw_index(spark, path: str, graph: HnswGraph, centroid_ids: np.ndarray) -> None:
    """Persist the graph on the same storage plane as the other ANN
    artifacts (parquet via Spark — works on hdfs/s3/local alike):
    ``nodes`` (node_idx, centroid_id, level, point + the entry id on every
    row, so no separate meta object) and ``edges`` (layer, src, dst)."""
    import pandas as pd

    # pandas/Arrow path, mirroring load_hnsw_index: at 10^6 landmarks × 64
    # dims a per-node Python tuple + float-list materialization is several
    # GB of object overhead on the driver; numpy-backed columns hand the
    # same bytes to Arrow directly.
    nodes = pd.DataFrame(
        {
            "node_idx": np.arange(graph.n, dtype=np.int64),
            "centroid_id": np.asarray(centroid_ids, dtype=np.int64),
            "level": np.asarray(graph.levels, dtype=np.int64),
            "point": list(graph.points),
            "entry": np.full(graph.n, graph.entry, dtype=np.int64),
        }
    )
    spark.createDataFrame(
        nodes, "node_idx long, centroid_id long, level long, point array<float>, entry long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/nodes")
    # pos preserves each neighbor list's ORDER: build emits
    # heuristic-ordered lists, and _search_layer admission at a full
    # result heap is order-sensitive on similarity TIES — a sorted
    # reload could return different results than the saved graph
    lay_col: list[int] = []
    src_col: list[int] = []
    pos_col: list[int] = []
    dst_col: list[int] = []
    for lvl, adj in enumerate(graph.layers):
        for src, neigh in adj.items():
            lay_col.extend([lvl] * len(neigh))
            src_col.extend([src] * len(neigh))
            pos_col.extend(range(len(neigh)))
            dst_col.extend(neigh)
    edges = pd.DataFrame(
        {
            "layer": pd.array(lay_col, dtype="int64"),
            "src": pd.array(src_col, dtype="int64"),
            "pos": pd.array(pos_col, dtype="int64"),
            "dst": pd.array(dst_col, dtype="int64"),
        }
    )
    spark.createDataFrame(
        edges, "layer long, src long, pos long, dst long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/edges")


def load_hnsw_index(spark, path: str) -> tuple[HnswGraph, np.ndarray]:
    """Inverse of save_hnsw_index; the loaded graph searches identically
    (round-trip-tested). Arrow-batched toPandas, not Row collect — at
    10^6 landmarks x 64 dims the nodes table is ~256 MB of floats and
    Row-object overhead would triple the driver footprint."""
    npdf = spark.read.parquet(f"{path}/nodes").toPandas().sort_values("node_idx")
    pts = np.array([np.asarray(p, dtype=np.float32) for p in npdf["point"]])
    levels = npdf["level"].to_numpy(dtype=np.int64)
    cids = npdf["centroid_id"].to_numpy(dtype=np.int64)
    entry = int(npdf["entry"].iloc[0])
    max_level = int(levels.max())
    layers: list[dict[int, list[int]]] = [dict() for _ in range(max_level + 1)]
    for i, lv in enumerate(levels):
        for lvl in range(int(lv) + 1):
            layers[lvl][i] = []
    epdf = (
        spark.read.parquet(f"{path}/edges")
        .toPandas()
        .sort_values(["layer", "src", "pos"], kind="mergesort")
    )
    for lvl, src, dst in zip(
        epdf["layer"].to_numpy(), epdf["src"].to_numpy(), epdf["dst"].to_numpy()
    ):
        layers[int(lvl)][int(src)].append(int(dst))
    return HnswGraph(pts, levels, layers, entry), cids


def hnsw_coarse_probes(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    ef: int = 64,
    m: int = 8,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    prebuilt: tuple[HnswGraph, np.ndarray] | None = None,
) -> DataFrame:
    """(query_id, centroid_id) probe pairs via HNSW graph search — exactly
    those two columns, so the output stays a vector-free routing table
    (n_queries × n_probe rows) that is cheap to broadcast; callers that
    need the query vector join it back from ``queries`` on query_id.

    ``centroids`` is the bounded coarse table (centroid_id, centroid) —
    the SAME k-row table the IVF tier already collects/broadcasts, so
    collecting it to build the graph adds no new driver-size assumption.
    The graph ships to executors inside the pandas UDF closure (pickled
    once, reused across Arrow batches); per-batch work is pure numpy.
    Pass ``prebuilt`` (from graph_from_centroids / load_hnsw_index) to
    skip the build — the production path for a resident index."""
    if prebuilt is not None:
        graph, cids = prebuilt
    else:
        graph, cids = graph_from_centroids(centroids, m=m, ef_construction=max(ef, 4 * m))
    k = min(n_probe, len(cids))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(vec_series):
        import pandas as pd

        out = []
        for v in vec_series:
            idx = hnsw_search(graph, np.asarray(v, dtype=np.float32), k, ef=ef)
            out.append([int(cids[i]) for i in idx])
        return pd.Series(out)

    return queries.select(
        F.col(query_id_col),
        F.explode(probe(F.col(vec_col))).alias("centroid_id"),
    )


def hnsw_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int | None = None,
    ef: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    prebuilt: tuple[HnswGraph, np.ndarray] | None = None,
    prebuilt_ivf: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF top-k with the coarse probe routed through the HNSW graph
    instead of the brute-force broadcast scan. Identical output contract
    to similarity.ivf_topk (query_id, vec_id, cosine_sim, rank); with
    ``ef >= n_centroids`` the probe is exact and results match ivf_topk
    row-for-row (differential-tested).

    ``prebuilt_ivf`` = (cents, lists) skips centroid training and the
    assignment pass — the resident-index production path (pair it with
    ``prebuilt`` for the graph), same amortization as ivfpq_topk's.

    ``n_probe=None`` uses similarity.auto_n_probe (the recall-floor
    default, see its docstring); ``ef`` is widened to 4*n_probe when the
    requested beam is narrower than the probe count (a beam thinner than
    the probes it must return degrades the coarse route for free)."""
    from blazingsql_spark.functions.similarity import (
        _ivf_build,
        _query_side,
        _rescore,
        _top_k,
        auto_n_probe,
        l2_norm,
    )

    if n_probe is None:
        n_probe = auto_n_probe(n_centroids)
    ef = max(int(ef), 4 * int(n_probe))

    cents, lists = prebuilt_ivf or _ivf_build(vectors, n_centroids, dim, id_col, vec_col)
    probes = hnsw_coarse_probes(
        queries, cents, n_probe=n_probe, ef=ef,
        query_id_col=query_id_col, vec_col=vec_col, prebuilt=prebuilt,
    )
    # probes is vector-free; join the query vectors back from the queries
    # frame so each vector is broadcast once per query, not once per probe
    # row (n_probe× smaller broadcast than carrying it through the explode)
    pairs = (
        lists.withColumn("__vn", l2_norm(F.col(vec_col)))
        .join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(_query_side(queries, query_id_col, vec_col)), query_id_col)
    )
    scored = _rescore(pairs, query_id_col, id_col, vec_col)
    return _top_k(scored, k, "cosine_sim", query_id_col, id_col)


def hnsw_ivf_topk_filtered(
    vectors: DataFrame,
    queries: DataFrame,
    filter_expr: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int | None = None,
    ef: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    prebuilt: tuple[HnswGraph, np.ndarray] | None = None,
    prebuilt_ivf: tuple | None = None,
    selectivity: float | None = None,
) -> DataFrame:
    """Metadata-filtered serving on the HNSW-routed tier — the same
    pre-filter contract as similarity.ivf_topk_filtered: the predicate
    prunes the inverted lists by a left-semi join on ids BEFORE the
    rerank (excluded rows can never surface), the probe count
    auto-widens by the filter's selectivity, and the coarse probe still
    rides the graph. ``prebuilt_ivf`` accepts ``(cents, lists)`` or
    ``(cents, lists, corpus_count)`` — the 3rd element caches the
    corpus size so a serving call only counts the filtered ids."""
    from blazingsql_spark.functions.similarity import (
        _index_parts,
        _ivf_build,
        _prefilter_plan,
    )

    cents, lists, corpus_count = _index_parts(
        prebuilt_ivf, 2, lambda: _ivf_build(vectors, n_centroids, dim, id_col, vec_col)
    )
    flt_ids, n_probe = _prefilter_plan(
        vectors, filter_expr, n_probe, n_centroids,
        corpus_count, selectivity, id_col,
    )
    return hnsw_ivf_topk(
        vectors,
        queries,
        k=k,
        n_centroids=n_centroids,
        n_probe=n_probe,
        ef=ef,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        dim=dim,
        prebuilt=prebuilt,
        prebuilt_ivf=(cents, lists.join(flt_ids, id_col, "left_semi")),
    )
