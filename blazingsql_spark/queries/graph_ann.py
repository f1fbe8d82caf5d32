"""Registry rows for the graph ANN tier, the filtered-serving facades,
the MATCH_RECOGNIZE surface (``events_match_recognize`` and the
``events_mr_*`` rows), sketches and negative sampling. This module is in
``registry._QUERY_MODULES`` like every other query module.

sim_ann_hnsw is the recall-gated row for the HNSW graph ANN tier
(operators.hnsw), completing the ANN family list (LSH / IVF / PQ / IVF-PQ
/ graph). Same oracle shape as sim_ann_ivfpq: the graph/codebook contents aren't
SQL-expressible, but recall@5 vs the exact top-k is deterministic
end-to-end (seeded level RNG, id tiebreaks everywhere, md5-seeded k-means
landmarks) so the driver-comparable output is a thresholded boolean the
DuckDB oracle asserts TRUE. ef is set >= n_centroids, which makes the
coarse probe EXACT (tests/test_hnsw.py proves row-for-row equality with
ivf_topk then), so measured recall here equals the IVF tier's .64-.84 —
threshold 0.6 holds with the same margin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blazingsql_spark.functions import similarity
from blazingsql_spark.operators import hnsw
from blazingsql_spark.queries.pipeline import _recall_gate
from blazingsql_spark.queries.registry import load_table, register
from blazingsql_spark.width import fan_out


def _hnsw_index(spark, sf_dir: str, emb):
    """Session-scoped resident index: centroids + assignment lists
    (persisted) + the landmark graph, built once per (app, sf_dir) so
    bench repeats measure the probe path — the same amortization
    discipline as pipeline._ivfpq_index, and the same dict so
    pipeline.reset_resident_indexes() drops both together. Deterministic:
    a fresh session rebuilds the identical index (md5-seeded k-means,
    seeded level RNG)."""
    from blazingsql_spark.queries.pipeline import _IVFPQ_PREBUILT

    key = (spark.sparkContext.applicationId, sf_dir, "hnsw_ivf")
    if key not in _IVFPQ_PREBUILT:
        cents = similarity.ivf_train_centroids(emb, k=16, dim=64)
        lists = similarity.assign_to_centroids(emb, cents, "vec_id", "embedding")
        # size-aware persist width (r13, VERDICT r12 #1): see
        # pipeline._ivfpq_index — parallelizes the beam-search scoring
        # stages without the r12 full-core oversharding
        lists = fan_out(lists, per_task_rows=256).persist()
        lists.count()  # materialize the assignment now
        graph = hnsw.graph_from_centroids(cents, m=8, ef_construction=64)
        _IVFPQ_PREBUILT[key] = (cents, lists, graph)
    return _IVFPQ_PREBUILT[key]


@register(
    "sim_ann_hnsw",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    headline=True,  # benched from r6 (bench.py reports common22 w/o it)
)
def sim_ann_hnsw(spark, sf_dir):
    """HNSW graph ANN (operators.hnsw.hnsw_ivf_topk): driver-built graph
    over the k-means landmark table routes each query to its n_probe
    cells in O(ef·M·dim·log N) instead of the O(N·dim) broadcast scan;
    candidate retrieval stays the IVF equi-join. Deterministic; recall@5
    vs brute force as a thresholded boolean the oracle asserts TRUE."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents, lists, graph = _hnsw_index(spark, sf_dir, emb)
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    approx = (
        hnsw.hnsw_ivf_topk(
            emb, queries, k=5, n_centroids=16, ef=64,
            prebuilt=graph, prebuilt_ivf=(cents, lists),
        )
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return _recall_gate(exact, approx, threshold=0.8)


@register(
    "events_match_recognize",
    headline=True,  # the Python CEP kernel — no other headline row measures it
    oracle="""
    WITH coded AS (
        SELECT user_id, ts, event_id,
               CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' ELSE 's' END AS code
        FROM events
    ), seqs AS (
        SELECT user_id,
               STRING_AGG(code, '' ORDER BY ts, event_id) AS seq
        FROM coded GROUP BY user_id
    ), m AS (
        SELECT user_id, regexp_extract_all(seq, 'vc+p') AS ms FROM seqs
    )
    SELECT user_id,
           CAST(LEN(ms) AS BIGINT) AS n_matches,
           CAST(list_max(list_transform(ms, x -> LENGTH(x))) AS BIGINT)
               AS longest_match
    FROM m WHERE LEN(ms) > 0 ORDER BY user_id
    """,
    doc="SQL:2016 MATCH_RECOGNIZE spelling (operators/match_recognize.py "
    "+ the Context.sql rewriter) over the funnel pattern V C+ P; "
    "one-row-per-match output re-aggregated per user so the DuckDB twin "
    "can replay it as the regexp over per-user code strings — the same "
    "oracle scheme as events_pattern_match, restricted to users with "
    "at least one match (ONE ROW PER MATCH emits nothing otherwise)",
)
def events_match_recognize(spark, sf_dir):
    """Drives the row-pattern query through the SQL SPELLING (the
    Context.sql rewrite path), not the Python operator API, so the row
    checks exactly what a migrating user would type. The reference has
    no row-pattern surface at all (no SQL:2016 §R in its Calcite fork);
    beyond-reference."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MAX(match_len) AS BIGINT) AS longest_match
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS match_len
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (V C+ P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        GROUP BY user_id
        ORDER BY user_id
        """
    )


@register(
    "events_mr_unmatched",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), n AS (
        SELECT user_id, rn, event_type,
               MIN(CASE WHEN event_type <> 'click' THEN rn END) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        FROM e
    ), m AS (
        SELECT a.user_id, a.rn AS lo, a.nxt AS hi,
               ROW_NUMBER() OVER (PARTITION BY a.user_id
                                  ORDER BY a.rn) AS mno
        FROM n a JOIN e b ON b.user_id = a.user_id AND b.rn = a.nxt
        WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    )
    SELECT e.user_id, e.event_id,
           CAST(m.mno AS BIGINT) AS mno,
           CASE WHEN m.lo IS NULL THEN NULL
                WHEN e.rn = m.lo THEN 'V'
                WHEN e.rn = m.hi THEN 'P'
                ELSE 'C' END AS sym
    FROM e LEFT JOIN m
      ON e.user_id = m.user_id AND e.rn BETWEEN m.lo AND m.hi
    ORDER BY e.user_id, e.event_id
    """,
    doc="ALL ROWS PER MATCH WITH UNMATCHED ROWS (SQL:2016): every "
    "input row comes back — matched rows with their match number and "
    "per-row classifier, unmatched rows with both NULL. The DuckDB "
    "twin LEFT-joins the event rows to the funnel spans (non-"
    "overlapping by construction, so the join never multiplies) — "
    "every cell of the full event table compared exactly",
)
def events_mr_unmatched(spark, sf_dir):
    """Same funnel spans; the compared surface is the WITH UNMATCHED
    ROWS emission: the output covers the WHOLE events table, NULL
    measures marking the rows outside every match."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, event_id, CAST(mno AS BIGINT) AS mno, sym
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS sym
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id, event_id
        """
    )


@register(
    "events_mr_exclusion",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), n AS (
        SELECT user_id, rn, event_type,
               MIN(CASE WHEN event_type <> 'click' THEN rn END) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        FROM e
    ), m AS (
        SELECT a.user_id, a.rn AS lo, a.nxt AS hi,
               ROW_NUMBER() OVER (PARTITION BY a.user_id
                                  ORDER BY a.rn) AS mno
        FROM n a JOIN e b ON b.user_id = a.user_id AND b.rn = a.nxt
        WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    ), spans AS (
        SELECT m.user_id, m.mno, m.lo, m.hi,
               ROUND(SUM(r.value), 6) AS total,
               CAST(COUNT(*) AS BIGINT) AS span_len
        FROM m JOIN e r
          ON r.user_id = m.user_id AND r.rn BETWEEN m.lo AND m.hi
        GROUP BY m.user_id, m.mno, m.lo, m.hi
    )
    SELECT s.user_id, r.event_id,
           CASE r.rn WHEN s.lo THEN 'V' ELSE 'P' END AS sym,
           s.total, s.span_len
    FROM spans s JOIN e r
      ON r.user_id = s.user_id AND r.rn IN (s.lo, s.hi)
    ORDER BY s.user_id, r.event_id
    """,
    doc="SQL:2016 pattern exclusion {- C* -} under ALL ROWS PER MATCH: "
    "the click run still matches and still feeds the FINAL SUM/COUNT "
    "measures, but its rows are omitted from the output — only the "
    "view and purchase endpoints of each funnel span come back. The "
    "DuckDB twin computes each span's whole-span aggregates, then "
    "emits only the endpoint rows — every cell compared exactly",
)
def events_mr_exclusion(spark, sf_dir):
    """Same funnel spans as events_mr_all_rows; the compared surface is
    the exclusion semantics: output rows = non-excluded rows only,
    measures = whole match including excluded rows."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, event_id, sym, ROUND(total, 6) AS total,
               CAST(span_len AS BIGINT) AS span_len
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES CLASSIFIER() AS sym,
                     FINAL SUM(value) AS total,
                     FINAL COUNT(*) AS span_len
            ALL ROWS PER MATCH
            PATTERN (V {- C* -} P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id, event_id
        """
    )


@register(
    "events_mr_measure_expr",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), n AS (
        SELECT user_id, rn, event_type,
               MIN(CASE WHEN event_type <> 'click' THEN rn END) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        FROM e
    ), m AS (
        SELECT a.user_id, a.rn AS lo, a.nxt AS hi
        FROM n a JOIN e b ON b.user_id = a.user_id AND b.rn = a.nxt
        WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    )
    SELECT m.user_id,
           CAST(MIN(CASE WHEN r.rn = m.lo THEN r.event_id END) AS BIGINT)
               AS start_event,
           ROUND(MAX(CASE WHEN r.rn = m.hi THEN r.value END)
                 - MAX(CASE WHEN r.rn = m.lo THEN r.value END), 6) AS delta,
           ROUND(SUM(r.value) FILTER (WHERE r.rn > m.lo AND r.rn < m.hi)
                 / NULLIF(COUNT(*) FILTER (
                       WHERE r.rn > m.lo AND r.rn < m.hi), 0), 6)
               AS avg_click,
           CAST(COUNT(*) % 3 AS BIGINT) AS mod3
    FROM m JOIN e r
      ON r.user_id = m.user_id AND r.rn BETWEEN m.lo AND m.hi
    GROUP BY m.user_id, m.lo, m.hi
    ORDER BY m.user_id, start_event
    """,
    doc="Arithmetic MEASURE EXPRESSIONS in MATCH_RECOGNIZE (the "
    "Oracle/Flink spelling a migrating user types): LAST(value) - "
    "FIRST(value), SUM(C.value) / COUNT(C.*) (NULL on a zero-click "
    "match — division by zero is NULL), COUNT(*) % 3 (truncated "
    "modulo, BIGINT). The DuckDB twin recomputes every match span via "
    "the next-non-click range join and replays each expression with "
    "window-free aggregates FILTERed to the span — every cell compared "
    "exactly, one row per match",
)
def events_mr_measure_expr(spark, sf_dir):
    """Same funnel spans as events_mr_all_rows; the compared surface is
    the measure-expression compiler (operators/match_recognize.py
    _compile_arith_measure): NULL propagation, /0 -> NULL, truncated
    %, and the BIGINT/DOUBLE result typing."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, CAST(start_event AS BIGINT) AS start_event,
               ROUND(delta, 6) AS delta,
               ROUND(avg_click, 6) AS avg_click,
               CAST(mod3 AS BIGINT) AS mod3
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES FIRST(event_id) AS start_event,
                     LAST(value) - FIRST(value) AS delta,
                     SUM(C.value) / COUNT(C.*) AS avg_click,
                     COUNT(*) % 3 AS mod3
            ONE ROW PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id, start_event
        """
    )


@register(
    "sketch_ddsketch_quantiles",
    oracle="""
    WITH b AS (
        SELECT CAST(CASE WHEN l_extendedprice = 0 THEN 0
                    WHEN l_extendedprice > 0 THEN 4294967296
                         + CEIL(LN(l_extendedprice) / LN(1.01 / 0.99))
                    ELSE -4294967296
                         - CEIL(LN(-l_extendedprice) / LN(1.01 / 0.99)) END
               AS BIGINT) AS bucket,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT bucket,
               SUM(cnt) OVER (ORDER BY bucket) AS cum,
               SUM(cnt) OVER () AS n
        FROM b
    ),
    qs(q) AS (VALUES (0.5), (0.95), (0.99)),
    hit AS (
        SELECT q, MIN(bucket) AS bucket, MIN(n) AS n
        FROM cum CROSS JOIN qs WHERE cum >= q * n GROUP BY q
    ),
    est AS (
        SELECT q, n,
               CASE WHEN bucket = 0 THEN 0.0
                    WHEN bucket > 0 THEN (2.0 / ((1.01 / 0.99) + 1.0))
                         * POW(1.01 / 0.99, bucket - 4294967296)
                    ELSE -(2.0 / ((1.01 / 0.99) + 1.0))
                         * POW(1.01 / 0.99, -(bucket + 4294967296)) END AS est
        FROM hit
    ),
    ex AS (
        SELECT 0.5 AS q, quantile_cont(l_extendedprice, 0.5) AS exact FROM lineitem
        UNION ALL
        SELECT 0.95, quantile_cont(l_extendedprice, 0.95) FROM lineitem
        UNION ALL
        SELECT 0.99, quantile_cont(l_extendedprice, 0.99) FROM lineitem
    )
    SELECT est.q, CAST(est.n AS BIGINT) AS n,
           ABS(est.est - ex.exact) <= 0.02 * ex.exact AS within_bound
    FROM est JOIN ex ON est.q = ex.q
    ORDER BY est.q
    """,
    doc="DDSketch mergeable quantile sketch (functions.sketches.ddsketch_*; "
    "Masson/Rim/Lee VLDB'19): per-epoch bucket tables merged by count "
    "addition, p50/p95/p99 queried from the merged sketch and gated "
    "against the exact percentile at 2x the configured relative accuracy "
    "— the DuckDB twin replays the ENTIRE sketch (bucketing, merge, "
    "quantile walk) in SQL, with the compared values ulp-insensitive "
    "(booleans + exact counts)",
)
def sketch_ddsketch_quantiles(spark, sf_dir):
    """Build 4 per-'epoch' sketches (l_linenumber % 4 — standing in for
    per-epoch/per-partition summaries), merge them by count addition,
    query three quantiles, and report each estimate's accuracy against
    the exact interpolated percentile as a boolean at 2x the sketch's
    a=0.01 guarantee (measured relative error ~0.005, so the margin is
    ~4x — robust to cross-engine float ulps AND to Spark/DuckDB
    percentile-interpolation differences). Completes the mergeable
    sketch family next to HLL (distinct), CMS (frequency), and
    space-saving (top-k)."""
    from blazingsql_spark.functions import sketches

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", (F.col("l_linenumber") % 4).alias("epoch")
    )
    per_epoch = sketches.ddsketch_build(
        li, "l_extendedprice", ["epoch"], relative_accuracy=0.01
    )
    merged = sketches.ddsketch_merge(per_epoch)
    est = sketches.ddsketch_quantiles(
        merged, [0.5, 0.95, 0.99], relative_accuracy=0.01
    )
    exact = li.agg(
        *[
            F.expr(f"percentile(l_extendedprice, {q})").alias(f"ex_{i}")
            for i, q in enumerate((0.5, 0.95, 0.99))
        ],
        F.count("*").alias("n"),
    )
    ex = exact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.col(f"ex_{i}").alias("exact"),
                        F.col("n").alias("n"),
                    )
                    for i, q in enumerate((0.5, 0.95, 0.99))
                ]
            )
        ).alias("e")
    ).select("e.q", "e.exact", "e.n")
    return (
        est.join(ex, "q")
        .select(
            "q",
            F.col("n").cast("long").alias("n"),
            (F.abs(F.col("est") - F.col("exact")) <= 0.02 * F.col("exact")).alias(
                "within_bound"
            ),
        )
        .orderBy("q")
    )


@register(
    "events_mr_navigation",
    headline=True,  # the symbol-relative scan — benched from r9 ext
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS value_c,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), c AS (
        SELECT *,
               SUM(CASE WHEN event_type = 'click' THEN value_c ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY rn) AS cs
        FROM e
    ), n AS (
        SELECT user_id, rn, ts, cs, event_type,
               MIN(CASE WHEN event_type <> 'click' THEN rn END) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        FROM c
    ), m AS (
        SELECT a.user_id, a.nxt - a.rn - 1 AS n_clicks,
               b.cs - a.cs AS click_cents,
               epoch_us(b.ts - a.ts) AS span_us
        FROM n a JOIN c b ON b.user_id = a.user_id AND b.rn = a.nxt
        WHERE a.event_type = 'view' AND b.event_type = 'purchase'
          AND b.ts <= a.ts + INTERVAL 8 HOUR
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(n_clicks) AS BIGINT) AS total_clicks,
           CAST(SUM(click_cents) AS BIGINT) AS total_click_cents,
           CAST(MAX(span_us) AS BIGINT) AS max_span_us
    FROM m GROUP BY user_id ORDER BY user_id
    """,
    doc="Symbol-relative MATCH_RECOGNIZE navigation (FIRST(V.ts) in "
    "DEFINE — SQL:2016 running semantics, operators/mr_expr.py + the "
    "row scanner in streaming/patterns.py) plus the "
    "SUM(C.value_c) FINAL aggregate measure: a conversion funnel where "
    "the purchase must land within 8 hours of the view that STARTED "
    "the funnel, across a variable-length click run — inexpressible "
    "with physical PREV/lag. The DuckDB twin exploits the pattern's "
    "structure (a match is exactly a view whose next non-click row is "
    "an in-budget purchase; spans cannot overlap, so greedy "
    "non-overlapping selection is vacuous) to replay it with one "
    "window + one self-join, and the per-match click-value SUM as a "
    "cumulative-sum difference — every compared value exact (counts, "
    "FLOOR-grid integer cents, microsecond span)",
)
def events_mr_navigation(spark, sf_dir):
    """Drives the symbol-relative query through the SQL spelling (the
    Context.sql rewrite path) — what a migrating user would type. The
    reference has no row-pattern surface at all (no SQL:2016 §R in its
    Calcite fork); beyond-reference. Scale shape: one vectorized
    classification projection + one per-partition pandas kernel over
    user_id, the same exchange as every per-key CEP operator here; the scan is
    O(events) per key for this pattern (attempts fail on their
    first row except at views)."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    # integer cents on the FLOOR grid so the SUM measure compares exactly
    # across engines (double + both engines' summation orders would not)
    spark.table("events").withColumn(
        "value_c", F.floor(F.col("value") * 100).cast("long")
    ).createOrReplaceTempView("events_mr_nav")
    return bc.sql(
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(SUM(n_clicks) AS BIGINT) AS total_clicks,
               CAST(SUM(COALESCE(click_cents, 0)) AS BIGINT)
                   AS total_click_cents,
               CAST(MAX(unix_micros(CAST(p_ts AS TIMESTAMP))
                        - unix_micros(CAST(v_ts AS TIMESTAMP))) AS BIGINT)
                   AS max_span_us
        FROM events_mr_nav MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(C.*) AS n_clicks,
                     SUM(C.value_c) AS click_cents,
                     FIRST(ts) AS v_ts,
                     LAST(ts) AS p_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
                        AND ts <= FIRST(V.ts) + INTERVAL 8 HOUR
        )
        GROUP BY user_id
        ORDER BY user_id
        """
    )


@register(
    "events_mr_skip_overlap",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), i AS (
        SELECT user_id, rn,
               COALESCE(value > LAG(value) OVER (
                   PARTITION BY user_id ORDER BY rn), FALSE) AS inc
        FROM e
    ), r AS (
        SELECT user_id, inc,
               SUM(CASE WHEN inc THEN 0 ELSE 1 END) OVER (
                   PARTITION BY user_id ORDER BY rn) AS rid
        FROM i
    ), runs AS (
        SELECT user_id, rid,
               COUNT(*) FILTER (inc) AS len
        FROM r GROUP BY user_id, rid
    ), agg AS (
        SELECT user_id,
               SUM(len - 1) AS n_matches,
               MAX(len) AS longest,
               SUM(len * (len + 1) / 2 - 1) AS total_len
        FROM runs WHERE len >= 2 GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_matches AS BIGINT) AS n_matches,
           CAST(longest AS BIGINT) AS longest,
           CAST(total_len AS BIGINT) AS total_len
    FROM agg ORDER BY user_id
    """,
    doc="AFTER MATCH SKIP TO NEXT ROW (SQL:2016 overlapping matches) "
    "through the SQL spelling: rising runs U U+ where a match starts at "
    "EVERY rising row with a rising successor — a run of L rises yields "
    "L-1 overlapping matches of lengths L down to 2. The DuckDB twin "
    "replays it in closed form over run-length groups: n=L-1 matches "
    "per run, longest=L, total row count L(L+1)/2-1 — the "
    "arithmetic-series identity of the overlap semantics, so the "
    "oracle checks the SKIP mode exactly, not just row counts",
)
def events_mr_skip_overlap(spark, sf_dir):
    """Overlapping-match mode: greedy leftmost-longest from every resume
    position one row after the previous match's START (vs the default
    non-overlapping PAST LAST ROW). Same scale shape as every
    MATCH_RECOGNIZE row (one codegen classification + one per-partition
    kernel scanning key by key, one exchange); the overlap multiplies OUTPUT
    rows (bounded by input rows x longest run), never state."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(MAX(len) AS BIGINT) AS longest,
               CAST(SUM(len) AS BIGINT) AS total_len
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS len
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (U U+)
            DEFINE U AS value > PREV(value)
        )
        GROUP BY user_id
        ORDER BY user_id
        """
    )


@register(
    "sketch_hll_intersect",
    oracle="""
    SELECT CAST(COUNT(DISTINCT CASE WHEN MONTH(o_orderdate) <= 6
                                    THEN o_custkey END) AS BIGINT) AS exact_h1,
           CAST(COUNT(DISTINCT CASE WHEN MONTH(o_orderdate) > 6
                                    THEN o_custkey END) AS BIGINT) AS exact_h2,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union,
           CAST(COUNT(DISTINCT CASE WHEN MONTH(o_orderdate) <= 6
                                    THEN o_custkey END)
                + COUNT(DISTINCT CASE WHEN MONTH(o_orderdate) > 6
                                      THEN o_custkey END)
                - COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_intersect,
           TRUE AS within_bound
    FROM orders
    """,
    doc="HLL set algebra: intersection cardinality via inclusion-"
    "exclusion over mergeable DataSketches HLLs (|A∩B| = |A| + |B| - "
    "|A∪B|, the union through hll_union so only the two pre-aggregated "
    "sketches are touched — completing the sketch family's set "
    "operations next to the union rollup). The estimate error "
    "compounds across three estimates (~sqrt(3) x 1.6% lgK-12 stderr), "
    "so the gate bounds it at 5% of the exact union (measured "
    "0.9-1.1%); the exact counts compare exactly in DuckDB and the "
    "thresholded boolean is asserted TRUE, the same oracle scheme as "
    "the ANN recall rows",
)
def sketch_hll_intersect(spark, sf_dir):
    """Customers active in BOTH calendar halves (repeat buyers), asked
    of two pre-aggregated HLL sketches instead of the raw fact table —
    the set-overlap question every audience/retention system answers
    from sketches at 100 TB because the raw intersection needs a
    distinct-shuffle over everything. Scale shape: one pass builds both
    sketches (partial aggregation map-side); estimates are driver-side
    scalar ops on two binary sketches."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", (F.month("o_orderdate") <= 6).alias("h1")
    )
    sk = o.groupBy().agg(
        F.hll_sketch_agg(F.when(F.col("h1"), F.col("o_custkey"))).alias("a"),
        F.hll_sketch_agg(F.when(~F.col("h1"), F.col("o_custkey"))).alias("b"),
    )
    est = sk.select(
        F.hll_sketch_estimate("a").alias("ea"),
        F.hll_sketch_estimate("b").alias("eb"),
        F.hll_sketch_estimate(F.hll_union("a", "b")).alias("eu"),
    )
    exact = o.agg(
        F.countDistinct(F.when(F.col("h1"), F.col("o_custkey"))).alias("xa"),
        F.countDistinct(F.when(~F.col("h1"), F.col("o_custkey"))).alias("xb"),
        F.countDistinct("o_custkey").alias("xu"),
    )
    return (
        est.crossJoin(exact)  # both sides are ONE row (agg without keys)
        .select(
            F.col("xa").cast("long").alias("exact_h1"),
            F.col("xb").cast("long").alias("exact_h2"),
            F.col("xu").cast("long").alias("exact_union"),
            (F.col("xa") + F.col("xb") - F.col("xu"))
            .cast("long")
            .alias("exact_intersect"),
            (
                F.abs(
                    (F.col("ea") + F.col("eb") - F.col("eu"))
                    - (F.col("xa") + F.col("xb") - F.col("xu"))
                )
                <= 0.05 * F.col("xu")
            ).alias("within_bound"),
        )
    )


@register(
    "events_mr_permute",
    oracle="""
    WITH coded AS (
        SELECT user_id, ts, event_id,
               CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' ELSE 's' END AS code
        FROM events
    ), seqs AS (
        SELECT user_id,
               STRING_AGG(code, '' ORDER BY ts, event_id) AS seq
        FROM coded GROUP BY user_id
    ), m AS (
        SELECT user_id, regexp_extract_all(seq, 'v(cp|pc)') AS ms FROM seqs
    )
    SELECT user_id, CAST(LEN(ms) AS BIGINT) AS n_matches
    FROM m WHERE LEN(ms) > 0 ORDER BY user_id
    """,
    doc="SQL:2016 PERMUTE in PATTERN (order-free element sets, expanded "
    "to the alternation of all orderings before NFA compilation): a "
    "view followed by a click and a purchase IN EITHER ORDER. The "
    "DuckDB twin replays the expansion literally — regexp v(cp|pc) "
    "over per-user code strings, the events_pattern_match oracle "
    "scheme — so the expansion semantics are what is checked",
)
def events_mr_permute(spark, sf_dir):
    """PERMUTE through the SQL spelling (rewriter -> operator -> NFA).
    Same scale shape as every row-pattern row: one codegen
    classification, one per-partition kernel scanning key by key, one
    exchange."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS len
            ONE ROW PER MATCH
            PATTERN (V PERMUTE(C, P))
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        GROUP BY user_id
        ORDER BY user_id
        """
    )


@register(
    "events_mr_all_rows",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), n AS (
        SELECT user_id, rn, event_type,
               MIN(CASE WHEN event_type <> 'click' THEN rn END) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        FROM e
    ), m AS (
        SELECT a.user_id, a.rn AS lo, a.nxt AS hi,
               ROW_NUMBER() OVER (PARTITION BY a.user_id
                                  ORDER BY a.rn) AS mno
        FROM n a JOIN e b ON b.user_id = a.user_id AND b.rn = a.nxt
        WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    )
    SELECT r.user_id, r.event_id,
           CASE r.rn WHEN m.lo THEN 'V' WHEN m.hi THEN 'P'
                ELSE 'C' END AS sym,
           CAST(m.mno AS BIGINT) AS mno,
           ROUND(SUM(r.value) OVER (
               PARTITION BY m.user_id, m.mno ORDER BY r.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS rsum,
           ROUND(SUM(r.value) OVER (
               PARTITION BY m.user_id, m.mno), 6) AS fsum
    FROM m JOIN e r
      ON r.user_id = m.user_id AND r.rn BETWEEN m.lo AND m.hi
    ORDER BY r.user_id, r.event_id
    """,
    doc="ALL ROWS PER MATCH through the SQL spelling: every matched "
    "input row comes back with its per-row CLASSIFIER(), the match's "
    "MATCH_NUMBER(), an UNPREFIXED SUM(value) — which per SQL:2016 is "
    "RUNNING under ALL ROWS (the row's prefix of the match, the DuckDB "
    "twin's cumulative window sum) — and a FINAL SUM(value) constant "
    "(the twin's whole-match window sum). The twin expands each funnel "
    "span with a range join (rows BETWEEN the view and its "
    "next-non-click purchase) and derives the classifier from the "
    "row's position — every cell compared exactly",
)
def events_mr_all_rows(spark, sf_dir):
    """Same funnel and scale shape as events_match_recognize; the
    compared surfaces here are the ALL-ROWS row expansion (per-row
    classifier, constant match number) and the SQL:2016 measure
    semantics: unprefixed SUM is RUNNING, FINAL SUM is the whole-match
    constant."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, event_id, sym, CAST(mno AS BIGINT) AS mno,
               ROUND(rsum, 6) AS rsum, ROUND(fsum, 6) AS fsum
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS sym,
                     SUM(value) AS rsum, FINAL SUM(value) AS fsum
            ALL ROWS PER MATCH
            PATTERN (V C* P)
            DEFINE V AS event_type = 'view',
                   C AS event_type = 'click',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id, event_id
        """
    )


@register(
    "sim_ann_filtered",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS no_leaks
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    doc="Metadata-FILTERED ANN (similarity.ivf_topk_filtered — the "
    "FAISS IDSelector / pgvector-WHERE serving shape): one whole-corpus "
    "IVF index answers a label predicate by pruning the inverted lists "
    "BEFORE rerank, with the probe count auto-widened by the filter's "
    "selectivity. Two gates: recall@5 >= 0.8 vs the exact top-k over "
    "the FILTERED corpus, and no_leaks — an EXACT boolean that no "
    "returned neighbor violates the predicate (pre-filtering's "
    "defining guarantee vs post-filtering); the DuckDB twin asserts "
    "both TRUE with exact query/result counts",
)
def sim_ann_filtered(spark, sf_dir):
    """Filter: even labels (~50% selectivity). PROBE COUNT PINNED at 10
    of 16 lists: the selectivity auto-widening would saturate to all 16
    at a halving filter (the unit tests prove full probe == the exact
    filtered top-k, which would make this gate vacuous); a pinned
    partial probe measures the REAL recall a filtered query pays, so
    the 0.8 floor and the telemetry can actually drift. Measured at the
    pin: 0.96/0.88/0.91 recall at sf0.001/0.01/0.1 (probe 8 dipped to
    0.74 at sf0.1 — below the floor — hence 10). Exact baseline runs on the filtered corpus so
    recall measures the ANN routing, not the filter. no_leaks is an
    aggregate inside the SAME returned plan (two 1-row frames joined —
    the accepted two-scalar-frames shape), not an eager extra job."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flt = "label % 2 = 0"
    exact = similarity.cosine_topk(
        fan_out(emb).filter(flt), queries, k=5
    ).select(
        "query_id", "vec_id"
    )
    approx = similarity.ivf_topk_filtered(
        emb, queries, flt, k=5, n_centroids=16, n_probe=10
    ).select("query_id", "vec_id")
    leaks = (
        approx.join(
            emb.filter(f"NOT ({flt})").select("vec_id"), "vec_id", "left_semi"
        )
        .agg(F.count("*").alias("n_leaks"))
    )
    gate = _recall_gate(exact, approx.withColumn("hit", F.lit(1)), threshold=0.8)
    return gate.crossJoin(leaks).select(
        "n_queries", "n_exact_results", "recall_ok",
        (F.col("n_leaks") == 0).alias("no_leaks"),
    )


@register(
    "sim_ann_filtered_hnsw",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS no_leaks
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    doc="Metadata-filtered serving on the HNSW-routed tier "
    "(operators.hnsw.hnsw_ivf_topk_filtered): the same pre-filter "
    "contract as sim_ann_filtered — inverted lists pruned by a "
    "left-semi id join BEFORE rerank, probe count widened by the "
    "filter's selectivity — but the coarse probe rides the bounded "
    "driver-side HNSW graph instead of the brute-force centroid scan. "
    "Gates: recall@5 >= 0.8 vs the exact top-k over the FILTERED "
    "corpus, and an EXACT no-leak boolean; the DuckDB twin asserts "
    "both TRUE with exact query/result counts",
)
def sim_ann_filtered_hnsw(spark, sf_dir):
    """Same filter (even labels, ~50% selectivity) and the same PINNED
    partial probe (10 of 16) as sim_ann_filtered, so the 0.8 floor
    measures real filtered-serving recall on this tier too; ef stays at
    the facade's 4*n_probe widening. Exact baseline runs on the
    filtered corpus so recall measures the routing, not the filter."""
    from blazingsql_spark.operators.hnsw import hnsw_ivf_topk_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flt = "label % 2 = 0"
    exact = similarity.cosine_topk(
        fan_out(emb).filter(flt), queries, k=5
    ).select(
        "query_id", "vec_id"
    )
    approx = hnsw_ivf_topk_filtered(
        emb, queries, flt, k=5, n_centroids=16, n_probe=10
    ).select("query_id", "vec_id")
    leaks = (
        approx.join(
            emb.filter(f"NOT ({flt})").select("vec_id"), "vec_id", "left_semi"
        )
        .agg(F.count("*").alias("n_leaks"))
    )
    gate = _recall_gate(exact, approx.withColumn("hit", F.lit(1)), threshold=0.8)
    return gate.crossJoin(leaks).select(
        "n_queries", "n_exact_results", "recall_ok",
        (F.col("n_leaks") == 0).alias("no_leaks"),
    )


@register(
    "sample_negatives",
    oracle="""
    WITH pool AS (
        SELECT vec_id AS pid, embedding::DOUBLE[] AS pvec
        FROM embeddings WHERE vec_id IS NOT NULL
        ORDER BY MD5('negpool:' || CAST(vec_id AS VARCHAR))
        LIMIT 256
    ), a AS (
        SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS avec
        FROM embeddings WHERE vec_id % 100 = 0 AND vec_id IS NOT NULL
    ), pairs AS (
        SELECT a.anchor_id, p.pid,
               CASE WHEN SQRT(list_dot_product(a.avec, a.avec))
                         * SQRT(list_dot_product(p.pvec, p.pvec)) = 0
                    THEN NULL
                    ELSE ROUND(
                        list_dot_product(a.avec, p.pvec)
                        / (SQRT(list_dot_product(a.avec, a.avec))
                           * SQRT(list_dot_product(p.pvec, p.pvec))), 6)
               END AS cos
        FROM a CROSS JOIN pool p
        WHERE a.anchor_id <> p.pid AND LEN(a.avec) = LEN(p.pvec)
    ), ranked AS (
        SELECT anchor_id, pid,
               ROW_NUMBER() OVER (
                   PARTITION BY anchor_id
                   ORDER BY MD5('negpool:' || CAST(anchor_id AS VARCHAR)
                                || ':' || CAST(pid AS VARCHAR))) AS rank
        FROM pairs WHERE cos < 0.95
    )
    SELECT anchor_id, CAST(pid AS BIGINT) AS neg_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 4
    ORDER BY anchor_id, rank
    """,
    doc="Deterministic contrastive negative sampling "
    "(sampling.contrastive_negatives — the shared-pool in-batch recipe "
    "of two-tower/CLIP training): one hash-ordered 256-row pool serves "
    "every anchor (anchors x broadcast(pool), never corpus x corpus), "
    "accidental positives masked at rounded cosine >= 0.95 (unmasked "
    "near-dups are false negatives that poison the loss), per-anchor "
    "ranks by md5(salt:anchor:candidate). The DuckDB twin replays the "
    "ENTIRE pipeline — pool hash-order, cosine mask on the same "
    "ROUND(,6) grid, md5 ranks — so every (anchor, negative, rank) "
    "triple compares exactly",
)
def sample_negatives(spark, sf_dir):
    """Scale shape: pool selection is a global top-256 by hash (a
    TakeOrdered); pairing is anchors x broadcast(256-row pool); rank is
    an anchor-partitioned window. No corpus-sized shuffle anywhere."""
    from blazingsql_spark.functions import sampling

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    return (
        sampling.contrastive_negatives(
            emb, anchors, k=4, pool_size=256, sim_cap=0.95
        )
        .withColumn("neg_id", F.col("neg_id").cast("long"))
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("anchor_id", "rank")
    )


@register(
    "sim_ann_filtered_pq",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS no_leaks
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    doc="Metadata-filtered serving on the flat-PQ tier "
    "(similarity.pq_topk_filtered): the predicate prunes the ENCODED "
    "table by a left-semi id join before the ADC scan, so excluded "
    "rows can never reach the candidate pool or the exact rerank. "
    "Registered r11 (staged for the r12 driver window) — completes "
    "filtered-serving facade symmetry across all five ANN tiers. "
    "Gates: recall@5 >= 0.8 vs the exact top-k over the FILTERED "
    "corpus, and an EXACT no-leak boolean; the DuckDB twin asserts "
    "both TRUE with exact query/result counts",
)
def sim_ann_filtered_pq(spark, sf_dir):
    """Same filter (even labels, ~50% selectivity) as the other
    filtered rows. No probe pin needed on this tier: flat PQ scans the
    whole filtered compressed corpus, so the recall at stake is the
    CODES' fidelity (m=16 subspaces, 16 codes each, pool=10k rerank),
    not a list-routing choice — the 0.8 floor measures quantization
    quality under a filter. Leak check is the same two-1-row-frame
    crossJoin shape as sim_ann_filtered."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flt = "label % 2 = 0"
    exact = similarity.cosine_topk(
        fan_out(emb).filter(flt), queries, k=5
    ).select(
        "query_id", "vec_id"
    )
    approx = similarity.pq_topk_filtered(
        emb, queries, flt, k=5, m=16, ksub=16
    ).select("query_id", "vec_id")
    leaks = (
        approx.join(
            emb.filter(f"NOT ({flt})").select("vec_id"), "vec_id", "left_semi"
        )
        .agg(F.count("*").alias("n_leaks"))
    )
    gate = _recall_gate(exact, approx.withColumn("hit", F.lit(1)), threshold=0.8)
    return gate.crossJoin(leaks).select(
        "n_queries", "n_exact_results", "recall_ok",
        (F.col("n_leaks") == 0).alias("no_leaks"),
    )


@register(
    "sim_ann_filtered_lsh",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS no_leaks
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    doc="Metadata-filtered serving on the multi-probe LSH tier "
    "(similarity.ann_lsh_topk_filtered): the predicate prunes the "
    "corpus SIGNATURE table by a left-semi id join before the bucket "
    "join. Registered r11 (staged for the r12 driver window). Gates: "
    "recall@5 >= 0.6 (the hashing tier's settings-bound floor) vs the "
    "exact top-k over the FILTERED corpus, and an EXACT no-leak boolean",
)
def sim_ann_filtered_lsh(spark, sf_dir):
    """Same filter as the other filtered rows. No probe widening on
    this tier either — every query probes bits_per_band+1 buckets per
    band regardless of the filter, and pruning only removes rows the
    predicate excludes from every bucket, so relative recall is the
    unfiltered tier's. The 0.6 floor is KEPT at r12's floor-tightening
    pass (VERDICT-r11 #4): measured minimum across the three SFs is
    0.68 (sf0.001), so 0.6 already IS measured-minus-margin for this
    tier — unlike pq/ivfpq/int8, whose floors rose to 0.75/0.85.
    Settings: 16 bands x 8 bits + 1-bit multiprobe —
    measured 0.68/0.92 recall at sf0.001/sf0.01 (the 4x16 headline
    settings drop to 0.0/0.24 under this filter: halving the corpus
    empties the narrow 16-bit buckets, the classic AND-OR trade — more
    bands, shorter signatures is the filtered-serving configuration)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flt = "label % 2 = 0"
    exact = similarity.cosine_topk(
        fan_out(emb).filter(flt), queries, k=5
    ).select(
        "query_id", "vec_id"
    )
    approx = similarity.ann_lsh_topk_filtered(
        emb, queries, flt, k=5, dim=64, bands=16, bits_per_band=8
    ).select("query_id", "vec_id")
    leaks = (
        approx.join(
            emb.filter(f"NOT ({flt})").select("vec_id"), "vec_id", "left_semi"
        )
        .agg(F.count("*").alias("n_leaks"))
    )
    gate = _recall_gate(exact, approx.withColumn("hit", F.lit(1)), threshold=0.6)
    return gate.crossJoin(leaks).select(
        "n_queries", "n_exact_results", "recall_ok",
        (F.col("n_leaks") == 0).alias("no_leaks"),
    )


@register(
    "events_mr_nondeterministic",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) - 1 AS BIGINT) AS n_a,
           ROUND(SUM(CASE WHEN rn < n THEN value ELSE 0 END), 2) AS a_sum,
           ROUND(MAX(CASE WHEN rn = n THEN value END), 2) AS b_value
    FROM e
    GROUP BY user_id
    HAVING MAX(n) >= 2
    ORDER BY user_id
    """,
    doc="SQL:2016 NONDETERMINISTIC symbol assignment (the r11-lifted "
    "restriction): PATTERN (A+ B) where EVERY row satisfies BOTH "
    "DEFINEs — the pattern, not a first-true classification, decides "
    "the mapping. Greedy A+ claims all rows but the last, B the final "
    "row, one match spanning each user's whole history; the DuckDB "
    "twin derives the same split positionally (rn < n is an A). The "
    "pre-r11 engine classified every row A and matched NOTHING here",
)
def events_mr_nondeterministic(spark, sf_dir):
    """Also exercises measures OVER the resolved assignment: COUNT(A.*)
    and SUM(A.value) see exactly the greedy-assigned rows, LAST(B.value)
    the final row. Runs through the SQL spelling like the other MR
    rows. Scale shape identical to events_match_recognize: one codegen
    flags projection, one exchange on user_id, one Python kernel scan
    (the ambiguity routing happens inside the scan, per key)."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_a AS BIGINT) AS n_a,
               ROUND(a_sum, 2) AS a_sum,
               ROUND(b_value, 2) AS b_value
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS n_rows,
                     COUNT(A.*) AS n_a,
                     SUM(A.value) AS a_sum,
                     LAST(B.value) AS b_value
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS value IS NOT NULL,
                   B AS value IS NOT NULL
        )
        ORDER BY user_id
        """
    )


@register(
    "events_mr_anchors",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), nxt AS (
        SELECT user_id,
               MIN(CASE WHEN rn > 1 AND event_type = 'purchase' THEN rn END)
                   AS first_purchase
        FROM e GROUP BY user_id
    )
    SELECT e.user_id, CAST(n.first_purchase AS BIGINT) AS n
    FROM e JOIN nxt n ON n.user_id = e.user_id
    WHERE e.rn = 1 AND e.event_type <> 'purchase'
      AND n.first_purchase IS NOT NULL
    ORDER BY e.user_id
    """,
    doc="SQL:2016 ^ partition anchor + nondeterministic assignment "
    "together (both r11): PATTERN (^ A B* P) where A and B share the "
    "same predicate (every non-purchase row satisfies both) — the "
    "anchored scan attempts position 0 only, and the scanner's threads "
    "resolve the A/B split. n = the first purchase's position in the "
    "user's history; users whose FIRST event is a purchase never "
    "match (the anchor pins A to row 1). The DuckDB twin derives the "
    "same positionally",
)
def events_mr_anchors(spark, sf_dir):
    """Through the SQL spelling like the other MR rows. The trailing-$
    form and anchor+navigation combinations are covered by unit tests
    (test_partition_anchors); this row pins the ^ form — composed with
    ambiguous DEFINEs — against real data at 3 SFs (13/121/1206 rows,
    non-vacuous at every SF)."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id, CAST(n AS BIGINT) AS n
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS n
            ONE ROW PER MATCH
            PATTERN (^ A B* P)
            DEFINE A AS event_type <> 'purchase',
                   B AS event_type <> 'purchase',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id
        """
    )


@register(
    "events_mr_nav_nondeterministic",
    oracle="""
    WITH e AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               FIRST_VALUE(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS v0,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE value IS NOT NULL
    ), runs AS (
        SELECT user_id,
               COALESCE(MIN(CASE WHEN rn > 1 AND value < v0 THEN rn END),
                        MAX(n)) AS b_rn
        FROM e GROUP BY user_id
        HAVING MAX(n) >= 2
    )
    SELECT r.user_id,
           CAST(r.b_rn AS BIGINT) AS n_rows,
           CAST(r.b_rn - 1 AS BIGINT) AS n_a,
           ROUND(SUM(CASE WHEN e.rn < r.b_rn THEN e.value END), 2) AS a_sum,
           ROUND(MAX(CASE WHEN e.rn = r.b_rn THEN e.value END), 2) AS b_value
    FROM runs r JOIN e ON e.user_id = r.user_id
    GROUP BY r.user_id, r.b_rn
    ORDER BY r.user_id
    """,
    doc="SQL:2016 nondeterministic symbol assignment WITH NAVIGATION in "
    "DEFINE: A's predicate reads FIRST(A.value) — the attempt's own "
    "tentative mapping — while every non-null row also satisfies B, so "
    "the scanner's threads, each with its own mapping, resolve the "
    "assignment. Greedy A+ claims the maximal run with value >= the "
    "attempt's first value; B is the row that breaks the run (or the "
    "final row when the run covers the whole partition — a higher-"
    "priority accept overrides). The DuckDB twin derives the same split "
    "positionally",
)
def events_mr_nav_nondeterministic(spark, sf_dir):
    """Through the SQL spelling like the other MR rows, with a ^ anchor
    (one attempt per partition) and a derived-table factor filtering
    NULL values so the run/break positions are SQL-derivable. Scale
    shape identical to events_match_recognize: one codegen flags
    projection, one exchange on user_id, one Python kernel scan; the
    nondeterministic fallback runs per key, threads dedup on the
    mapping projection the navigation reads ({A}), so the thread count
    stays O(pattern) here despite every row satisfying two symbols."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_a AS BIGINT) AS n_a,
               ROUND(a_sum, 2) AS a_sum,
               ROUND(b_value, 2) AS b_value
        FROM (SELECT * FROM events WHERE value IS NOT NULL) MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS n_rows,
                     COUNT(A.*) AS n_a,
                     SUM(A.value) AS a_sum,
                     LAST(B.value) AS b_value
            ONE ROW PER MATCH
            PATTERN (^ A+ B)
            DEFINE A AS value >= FIRST(A.value),
                   B AS value IS NOT NULL
        )
        ORDER BY user_id
        """
    )


@register(
    "events_mr_measure_nav",
    oracle="""
    WITH e AS (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), f AS (
        SELECT user_id,
               MIN(CASE WHEN rn > 1 AND event_type = 'purchase'
                        THEN rn END) AS fp
        FROM e GROUP BY user_id
        HAVING MAX(CASE WHEN rn = 1
                        THEN (event_type <> 'purchase')::INT END) = 1
           AND MIN(CASE WHEN rn > 1 AND event_type = 'purchase'
                        THEN rn END) IS NOT NULL
    )
    SELECT f.user_id,
           CAST(f.fp AS BIGINT) AS n,
           ROUND(MAX(CASE WHEN e.rn = f.fp - 1 THEN e.value END), 2)
               AS before_p,
           ROUND(MAX(CASE WHEN e.rn = f.fp + 1 THEN e.value END), 2)
               AS after_p,
           ROUND(MAX(CASE WHEN e.rn = 2 THEN e.value END), 2) AS second_v,
           ROUND(MAX(CASE WHEN e.rn = f.fp - 2 THEN e.value END), 2)
               AS p_minus2
    FROM f JOIN e ON e.user_id = f.user_id
    GROUP BY f.user_id, f.fp
    ORDER BY f.user_id
    """,
    doc="SQL:2016 PREV/NEXT navigation inside MEASURES (late r12): "
    "physical offsets over the PARTITION, anchored at the match's last "
    "row (bare col), a symbol's last mapped row (P.value), or a nested "
    "FIRST/LAST logical position — the target may lie OUTSIDE the match "
    "(after_p reads the row following the matched purchase; NULL when "
    "the partition ends there). The anchored ^ A B* P funnel makes every "
    "position SQL-derivable: the DuckDB twin joins values by row number "
    "around the first purchase",
)
def events_mr_measure_nav(spark, sf_dir):
    """Composes three r12 features in one row: measure navigation,
    nondeterministic assignment (A and B share a predicate), and the ^
    anchor. Scale shape identical to the other MR rows: one codegen
    flags projection, one pinned-width exchange on user_id, one
    Python kernel scan; measure navigation reads the already-present
    key frame, no extra data movement."""
    from blazingsql_spark.context import Context
    from blazingsql_spark.queries.registry import ensure_views

    ensure_views(spark, sf_dir, ("events",))
    bc = Context(spark=spark)
    return bc.sql(
        """
        SELECT user_id,
               CAST(n AS BIGINT) AS n,
               ROUND(before_p, 2) AS before_p,
               ROUND(after_p, 2) AS after_p,
               ROUND(second_v, 2) AS second_v,
               ROUND(p_minus2, 2) AS p_minus2
        FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES COUNT(*) AS n,
                     PREV(value) AS before_p,
                     NEXT(value) AS after_p,
                     NEXT(FIRST(value)) AS second_v,
                     PREV(P.value, 2) AS p_minus2
            ONE ROW PER MATCH
            PATTERN (^ A B* P)
            DEFINE A AS event_type <> 'purchase',
                   B AS event_type <> 'purchase',
                   P AS event_type = 'purchase'
        )
        ORDER BY user_id
        """
    )
