"""Training-data pipeline queries (beyond-reference, BASELINE.json north
star): text analysis, dedup, similarity search, multimodal plumbing — each
backed by :mod:`blazingsql_spark.functions` and, wherever the semantics are
SQL-expressible, oracle-checked against DuckDB.

The near-dup demos UNION synthetic duplicates into the corpus inside the
query (the driver's `documents` table has none) — both engines construct the
same corpus, so the dedup behavior itself is what's compared.
"""

from pyspark.sql import functions as F

from blazingsql_spark.functions import dedup, multimodal, similarity, text
from blazingsql_spark.queries.registry import load_table, pair, register, twin
from blazingsql_spark.width import fan_out

# ------------------------------------------------------------------ text

twin(
    "text_stats",
    """
    SELECT doc_id, n_chars,
           LENGTH(text)                                          AS len,
           LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1     AS n_words,
           -- CAST, not * 1.0: Spark's 1.0 literal is DECIMAL(2,1) and the
           -- ratio surfaces as DECIMAL (r2 hash mismatch); DuckDB gives DOUBLE
           FLOOR(CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LENGTH(text) * 1000000) / 1000000             AS space_ratio
    FROM documents
    ORDER BY doc_id
    """,
    tables=("documents",),
)


@register(
    "text_quality",
    headline=True,
    oracle=r"""
    SELECT doc_id, q_len, q_tokens,
           FLOOR(q_avg_token_len * 10000) / 10000 AS avg_token_len,
           FLOOR(q_punct_ratio * 10000) / 10000   AS punct_ratio,
           quality_ok
    FROM (
        SELECT doc_id,
               LENGTH(text) AS q_len,
               LEN(string_split_regex(TRIM(text), '\s+')) AS q_tokens,
               LENGTH(text) * 1.0 / GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1)
                   AS q_avg_token_len,
               LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
                   / GREATEST(LENGTH(text), 1) AS q_punct_ratio,
               (LEN(string_split_regex(TRIM(text), '\s+')) BETWEEN 5 AND 100000)
                 AND (LENGTH(text) * 1.0 / GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1)
                      BETWEEN 2 AND 15)
                 AND (LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
                      / GREATEST(LENGTH(text), 1) <= 0.3) AS quality_ok
        FROM documents
    ) t
    ORDER BY doc_id
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring (length/punct/token-shape filters) via
    functions.text.quality_ok — pure codegen expressions."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_ok(docs)
    return scored.select(
        "doc_id",
        "q_len",
        "q_tokens",
        (F.floor(F.col("q_avg_token_len") * 10000) / 10000).alias("avg_token_len"),
        (F.floor(F.col("q_punct_ratio") * 10000) / 10000).alias("punct_ratio"),
        "quality_ok",
    ).orderBy("doc_id")


def _marker_sql(lang_words: tuple[str, ...]) -> str:
    terms = [
        f"CAST((LENGTH(p) - LENGTH(REPLACE(p, ' {w} ', ''))) / {len(w) + 2} AS INT)"
        for w in lang_words
    ]
    return " + ".join(terms)


@register(
    "text_langid",
    oracle=f"""
    WITH padded AS (
        SELECT doc_id, lang, ' ' || LOWER(text) || ' ' AS p FROM documents
    ), scores AS (
        SELECT doc_id, lang,
               {_marker_sql(text.LANG_MARKERS["de"])} AS s_de,
               {_marker_sql(text.LANG_MARKERS["en"])} AS s_en,
               {_marker_sql(text.LANG_MARKERS["es"])} AS s_es,
               {_marker_sql(text.LANG_MARKERS["fr"])} AS s_fr
        FROM padded
    )
    SELECT doc_id, lang,
           CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr) THEN 'fr'
                WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM scores
    ORDER BY doc_id
    """,
)
def text_langid(spark, sf_dir):
    """Stopword-marker language ID (functions.text.lang_id). Tie-break:
    lexicographically largest language among max scores (array_max on
    (score, lang) structs) — the oracle CASE mirrors that order."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred").orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint (functions.text.fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.add_fingerprint(docs).select("doc_id", "fp").orderBy("doc_id")


# ----------------------------------------------------------------- dedup

_CORPUS_ORACLE = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text AS text
        FROM documents WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text || ' zz' AS text
        FROM documents WHERE doc_id % 50 = 0
"""


def _corpus(spark, sf_dir):
    """documents ∪ exact copies (id+100000) ∪ near copies (id+200000,
    one appended token) — the dedup test corpus, built identically in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    return docs.unionAll(exact).unionAll(near)


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_CORPUS_ORACLE})
    SELECT MD5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM corpus GROUP BY MD5(text)
    ORDER BY keep_id
    """,
    headline=True,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (functions.dedup.exact_dedup): shuffle on
    md5, keep min id — O(rows) shuffle bytes at any corpus size."""
    out = dedup.exact_dedup(_corpus(spark, sf_dir))
    return out.select("fp", "keep_id", "n_dups").orderBy("keep_id")


@register(
    "dedup_bloom_incremental",
    oracle=f"""
    WITH hist AS (SELECT MD5(text) AS fp FROM documents),
    hpos AS (
        SELECT ('0x' || SUBSTR(MD5('bf' || i || '|' || fp), 1, 15))::BIGINT
                   % 65536 AS p
        FROM hist CROSS JOIN range(0, 4) t(i)
    ),
    words AS (
        SELECT p // 32 AS word_idx,
               BIT_OR(1::BIGINT << CAST(p % 32 AS INT)) AS word
        FROM hpos GROUP BY p // 32
    ),
    batch AS ({_CORPUS_ORACLE}),
    bpos AS (
        SELECT doc_id,
               ('0x' || SUBSTR(MD5('bf' || i || '|' || MD5(text)), 1, 15))::BIGINT
                   % 65536 AS p
        FROM batch CROSS JOIN range(0, 4) t(i)
    )
    SELECT b.doc_id,
           (COUNT(*) FILTER (WHERE (COALESCE(w.word, 0)
                                    & (1::BIGINT << CAST(b.p % 32 AS INT))) <> 0)
            = 4) AS maybe_dup
    FROM bpos b LEFT JOIN words w ON w.word_idx = b.p // 32
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def dedup_bloom_incremental(spark, sf_dir):
    """Bloom-filter membership screen for incremental corpus ingestion
    (functions.dedup.bloom_build/bloom_probe): the history's content
    fingerprints fold into a ~n_bits/32-row word table (engine-portable
    md5-derived bit positions, 100% deterministic — no library bloom with
    a private hash mix), and a new batch classifies each document as
    definitely-new vs maybe-present by joining THAT instead of
    anti-joining the petabyte history. Fixture: history = documents;
    batch = documents ∪ exact copies ∪ near copies — originals and exact
    copies must probe maybe_dup, the appended-token near copies come out
    definitely-new modulo the filter's designed false-positive rate,
    which the oracle reproduces bit-for-bit rather than bounding."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bloom = dedup.bloom_build(docs, n_bits=1 << 16, n_hashes=4)
    out = dedup.bloom_probe(
        _corpus(spark, sf_dir), bloom, n_bits=1 << 16, n_hashes=4
    )
    return out.select("doc_id", "maybe_dup").orderBy("doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=rf"""
    WITH corpus AS ({_CORPUS_ORACLE}),
    d AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws FROM corpus),
    tok AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(range(1, LEN(ws)),
                      i -> ws[i] || ' ' || ws[i+1]))) AS shingle
        FROM d
    ),
    mh AS (
        SELECT doc_id, seed, MIN(MD5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM tok CROSS JOIN range(1, 9) r(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, (seed - 1) // 2 AS band,
               MD5(string_agg(minhash, '|' ORDER BY seed)) AS band_hash
        FROM mh GROUP BY doc_id, (seed - 1) // 2
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                 AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
    headline=True,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (functions.dedup.lsh_candidate_pairs):
    8 seeded-md5 min-hashes, 4 bands × 2 rows, bucket self-join. md5-based
    hashing keeps the whole pipeline engine-portable (oracle-checkable)."""
    pairs = dedup.lsh_candidate_pairs(
        _corpus(spark, sf_dir), num_hashes=8, bands=4, shingle_n=2
    )
    return pairs.orderBy("id_a", "id_b")


@register(
    "dedup_lsh_eval",
    oracle=rf"""
    WITH corpus AS ({_CORPUS_ORACLE}),
    sub AS (SELECT * FROM corpus WHERE (doc_id % 100000) % 10 = 0),
    d AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws FROM sub),
    tok_all AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(range(1, LEN(ws)),
                      i -> ws[i] || ' ' || ws[i+1]))) AS shingle
        FROM d
    ),
    hot AS (SELECT shingle FROM tok_all GROUP BY shingle HAVING COUNT(*) > 25),
    tok AS (SELECT * FROM tok_all
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE FLOOR(n_inter * 1.0 / (sa.n + sb.n - n_inter) * 1000000)
              / 1000000 >= 0.8
    ),
    mh AS (
        SELECT doc_id, seed, MIN(MD5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM tok_all CROSS JOIN range(1, 9) r(seed)
        GROUP BY doc_id, seed
    ),
    banded AS (
        SELECT doc_id, (seed - 1) // 2 AS band,
               MD5(string_agg(minhash, '|' ORDER BY seed)) AS band_hash
        FROM mh GROUP BY doc_id, (seed - 1) // 2
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cands) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM truth t JOIN cands c
              ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hits
    """,
)
def dedup_lsh_eval(spark, sf_dir):
    """Dedup-quality evaluation harness — measure, don't guess: exact
    2-gram Jaccard (threshold 0.8, the planted exact/near copies) is the
    TRUTH set; MinHash-LSH candidates (8 hashes, 4 bands — the
    production dedup_minhash_lsh configuration) are scored against it as
    (n_truth, n_candidates, n_hits): recall = hits/truth, precision =
    hits/candidates, both derivable from the exact integers. Every stage
    is md5-portable, so the oracle replays BOTH pipelines and the
    metrics themselves are differentially checked — no thresholds, no
    booleans."""
    sub = _corpus(spark, sf_dir).filter((F.col("doc_id") % 100000) % 10 == 0)
    truth = (
        dedup.jaccard_pairs(sub, shingle_n=2, max_shingle_df=25)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
        .withColumn("t", F.lit(1))
    )
    cands = dedup.lsh_candidate_pairs(
        sub, num_hashes=8, bands=4, shingle_n=2
    ).withColumn("c", F.lit(1))
    marked = truth.join(cands, ["id_a", "id_b"], "full")
    return marked.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.col("t") * F.col("c")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    )


@register(
    "dedup_jaccard",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws
        FROM documents WHERE doc_id % 25 = 0
    ),
    tok_all AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(range(1, LEN(ws)),
                      i -> ws[i] || ' ' || ws[i+1]))) AS shingle
        FROM d
    ),
    hot AS (SELECT shingle FROM tok_all GROUP BY shingle HAVING COUNT(*) > 25),
    tok AS (
        SELECT * FROM tok_all
        WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           FLOOR(n_inter * 1.0 / (sa.n + sb.n - n_inter) * 1000000) / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    ORDER BY id_a, id_b
    """,
)
def dedup_jaccard(spark, sf_dir):
    """n-gram Jaccard (functions.dedup.jaccard_pairs) on a sampled subset,
    with hot shingles (document frequency > 25) dropped from the universe —
    a single stopword bigram in d documents would fan the shingle self-join
    out to d² pairs. At scale this op is the verifier behind LSH
    candidates, never an all-pairs scan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return dedup.jaccard_pairs(docs, shingle_n=2, max_shingle_df=25).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH corpus AS ({_CORPUS_ORACLE}),
    g AS (SELECT MD5(text) AS fp, COUNT(*) AS m FROM corpus GROUP BY MD5(text))
    SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_exact_pairs,
           CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_exact_found,
           TRUE AS all_exact_found
    FROM g
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup recall check (functions.dedup.simhash_near_pairs)
    over the dup-injected corpus. The raw signature has no portable SQL
    spelling, but a theorem does: identical text ⇒ identical SimHash ⇒
    hamming 0 ⇒ the pair MUST appear in the banded output. The query counts
    exact-duplicate pairs and how many SimHash recovered; the oracle computes
    the same pair count in SQL and asserts full recovery."""
    corpus = _corpus(spark, sf_dir)
    pairs = dedup.simhash_near_pairs(corpus, bits=32, max_hamming=3, bands=4)
    fp = corpus.select(F.md5("text").alias("fp"), F.col("doc_id"))
    exact_pairs = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    marked = exact_pairs.join(
        pairs.select("id_a", "id_b").withColumn("found", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    )
    return marked.agg(
        F.count("*").alias("n_exact_pairs"),
        F.coalesce(F.sum("found"), F.lit(0)).cast("long").alias("n_exact_found"),
    ).select(
        "n_exact_pairs",
        "n_exact_found",
        (F.col("n_exact_pairs") == F.col("n_exact_found")).alias("all_exact_found"),
    )


# ------------------------------------------------------------ similarity

_COSINE_ORACLE = """
        ROUND(
            list_dot_product(e.embedding::DOUBLE[], q.qe::DOUBLE[]) /
            (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
             * SQRT(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[]))), 6)
"""


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id % 100 = 0
    ),
    scored AS (
        SELECT q.query_id, e.vec_id, {_COSINE_ORACLE} AS cosine_sim
        FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    headline=True,
)
def sim_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k (functions.similarity.cosine_topk):
    broadcast query set, JVM-side float64 dot products, per-query window."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    )
    return out.select(
        "query_id", "vec_id", "cosine_sim", F.col("rank").alias("rnk")
    ).orderBy("query_id", "rnk")


def _mmr_oracle(k: int = 5, pool: int = 20, lam: str = "0.7", mu: str = "0.3") -> str:
    """Unroll the MMR greedy loop into k SQL steps: step i aggregates the
    max-similarity penalty against the i-1 already-selected items, then
    takes the argmax of lam*rel - mu*penalty (ties by vec_id) — the exact
    same arithmetic, on the same 6dp-rounded doubles, as the Spark
    operator's per-query pandas loop."""
    steps = []
    for i in range(2, k + 1):
        prev = f"sel_all_{i-1}"
        steps.append(
            f"""
    cand{i} AS (
        SELECT w.query_id, w.a AS vec_id, MIN(p.rel) AS rel,
               {lam} * MIN(p.rel) - {mu} * MAX(w.sim) AS obj
        FROM pw w
        JOIN {prev} s ON s.query_id = w.query_id AND s.vec_id = w.b
        JOIN pool p ON p.query_id = w.query_id AND p.vec_id = w.a
        LEFT JOIN {prev} x ON x.query_id = w.query_id AND x.vec_id = w.a
        WHERE x.vec_id IS NULL
        GROUP BY w.query_id, w.a
    ),
    sel{i} AS (
        SELECT query_id, vec_id, rel, CAST({i} AS BIGINT) AS mmr_rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY obj DESC, vec_id) AS rn
            FROM cand{i}) WHERE rn = 1
    ),
    sel_all_{i} AS (
        SELECT * FROM sel_all_{i-1} UNION ALL SELECT * FROM sel{i}
    )"""
        )
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id % 200 = 0
    ),
    scored AS (
        SELECT q.query_id, e.vec_id, {_COSINE_ORACLE} AS rel
        FROM embeddings e CROSS JOIN q
    ),
    pool AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, vec_id) AS rnk
            FROM scored) WHERE rnk <= {pool}
    ),
    pw AS (
        SELECT p1.query_id, p1.vec_id AS a, p2.vec_id AS b,
               ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
                     (SQRT(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                      * SQRT(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
                     6) AS sim
        FROM pool p1 JOIN pool p2 USING (query_id)
        JOIN embeddings ea ON ea.vec_id = p1.vec_id
        JOIN embeddings eb ON eb.vec_id = p2.vec_id
    ),
    sel_all_1 AS (
        SELECT query_id, vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, vec_id) AS rn
            FROM pool) WHERE rn = 1
    ),{",".join(steps)}
    SELECT query_id, mmr_rank, vec_id, rel AS relevance
    FROM sel_all_{k} ORDER BY query_id, mmr_rank
    """


@register("sim_mmr_rerank", headline=True, oracle=_mmr_oracle())
def sim_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking (functions.similarity.mmr_rerank) over
    the exact cosine top-20 pool: greedy lam*rel - mu*max-sim-to-selected
    selection of 5, per query, inside one applyInPandas over the bounded
    pool — the RAG diversity step after ANN retrieval. The oracle unrolls
    the same greedy loop into 5 SQL steps on the same 6dp-rounded
    doubles, so the SELECTION ITSELF is differentially checked, not just
    invariants."""
    from blazingsql_spark.functions.similarity import cosine_topk, mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 200 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pool = cosine_topk(fan_out(emb), queries, k=20)
    out = mmr_rerank(pool, emb, k=5, lam=0.7, mu=0.3)
    return out.orderBy("query_id", "mmr_rank")


@register(
    "sim_margin_mine",
    oracle="""
    WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
    fwd AS (
        SELECT * FROM (
            SELECT a.vec_id AS src, bb.vec_id AS dst,
                   ROUND(list_dot_product(a.embedding::DOUBLE[], bb.embedding::DOUBLE[]) /
                         (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * SQRT(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))), 6) AS cos
            FROM a CROSS JOIN b bb) t
        QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 4
    ),
    bwd AS (
        SELECT * FROM (
            SELECT bb.vec_id AS src, a.vec_id AS dst,
                   ROUND(list_dot_product(bb.embedding::DOUBLE[], a.embedding::DOUBLE[]) /
                         (SQRT(list_dot_product(bb.embedding::DOUBLE[], bb.embedding::DOUBLE[]))
                          * SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))), 6) AS cos
            FROM b bb CROSS JOIN a) t
        QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 4
    ),
    ax AS (SELECT src, AVG(cos) AS av FROM fwd GROUP BY src),
    ay AS (SELECT src AS yid, AVG(cos) AS av FROM bwd GROUP BY src),
    scored AS (
        SELECT f.src AS src_id, f.dst AS dst_id,
               ROUND(CASE WHEN (ax.av + ay.av) / 2 > 0
                          THEN f.cos / ((ax.av + ay.av) / 2) END, 6) AS margin
        FROM fwd f JOIN ax ON ax.src = f.src JOIN ay ON ay.yid = f.dst
    )
    SELECT src_id, dst_id, margin FROM scored
    WHERE margin IS NOT NULL AND margin >= 1.0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, dst_id) = 1
    ORDER BY src_id
    """,
)
def sim_margin_mine(spark, sf_dir):
    """Ratio-margin pair mining between two embedding corpora
    (functions.similarity.margin_mine; Artetxe & Schwenk 2019, the
    CCMatrix bitext-mining criterion): each source vector keeps its
    best-margin target, margin = cos / (mean of the two neighborhoods'
    avg top-k cos) — hub vectors that are near EVERYTHING score ~1 and
    drop. k-NN passes here are the exact cosine_topk baseline (fixture
    scale); at corpus scale either pass swaps for an ANN tier since the
    margin algebra only consumes (query, neighbor, sim) triples."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = emb.filter(F.col("vec_id") % 20 == 0)
    b = emb.filter(F.col("vec_id") % 20 != 0)
    out = similarity.margin_mine(a, b, k=4, threshold=1.0)
    return out.select("src_id", "dst_id", "margin").orderBy("src_id")


# Banded AND-OR hyperplane signatures (4 bands x 16 bits = 64 planes), the
# exact SQL twin of functions.similarity.lsh_band_signatures.
_LSH_SIG_ORACLE = """
    planes AS (
        SELECT p, i,
               CASE WHEN ASCII(SUBSTRING(MD5(p::VARCHAR || '-' || i::VARCHAR), 1, 1)) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 64) tp(p) CROSS JOIN range(1, 65) ti(i)
    ),
    elems AS (
        SELECT vec_id, ti.i, embedding[ti.i]::DOUBLE AS x
        FROM embeddings CROSS JOIN range(1, 65) ti(i)
    ),
    proj AS (
        SELECT vec_id, p, SUM(x * s) AS pr
        FROM elems JOIN planes USING (i) GROUP BY vec_id, p
    ),
    sigs AS (
        SELECT vec_id, CAST(p // 16 AS INT) AS band,
               CAST(SUM(CASE WHEN pr >= 0 THEN 1 << (p % 16) ELSE 0 END) AS INT) AS band_sig
        FROM proj GROUP BY vec_id, p // 16
    )
"""


@register(
    "sim_ann_lsh",
    headline=True,
    oracle=f"""
    WITH {_LSH_SIG_ORACLE},
    q AS (
        SELECT s.vec_id AS query_id, e.embedding AS qe, s.band, s.band_sig
        FROM sigs s JOIN embeddings e USING (vec_id)
        WHERE s.vec_id % 100 = 0
    ),
    cands AS (
        SELECT DISTINCT q.query_id, s.vec_id, {_COSINE_ORACLE} AS cosine_sim
        FROM sigs s
        JOIN q ON s.band = q.band AND s.band_sig = q.band_sig
        JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id) AS rnk
        FROM cands
    )
    SELECT query_id, vec_id, cosine_sim, rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
)
def sim_ann_lsh(spark, sf_dir):
    """ANN via banded random-hyperplane LSH (functions.similarity
    .ann_lsh_topk): md5-derived Rademacher planes → 4 bands × 16-bit
    signatures (AND-OR amplification) → equi-join candidates per band →
    exact cosine within buckets. The 100 TB path: no cross join exists, and
    per-band buckets hold ~N/65536 vectors instead of N/256."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_lsh_topk(
        fan_out(emb), queries,
        k=5, dim=64, bands=4, bits_per_band=16,
    )
    return out.select(
        "query_id", "vec_id", "cosine_sim", F.col("rank").alias("rnk")
    ).orderBy("query_id", "rnk")


@register(
    "sim_margin_mine_ann",
    oracle=f"""
    WITH {_LSH_SIG_ORACLE},
    a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
    fcand AS (
        SELECT DISTINCT qa.vec_id AS src, cs.vec_id AS dst
        FROM sigs qs JOIN a qa ON qa.vec_id = qs.vec_id
        JOIN sigs cs ON cs.band = qs.band AND cs.band_sig = qs.band_sig
        JOIN b cb ON cb.vec_id = cs.vec_id
    ),
    fwd AS (
        SELECT * FROM (
            SELECT f.src, f.dst,
                   ROUND(list_dot_product(qa.embedding::DOUBLE[], cb.embedding::DOUBLE[]) /
                         (SQRT(list_dot_product(qa.embedding::DOUBLE[], qa.embedding::DOUBLE[]))
                          * SQRT(list_dot_product(cb.embedding::DOUBLE[], cb.embedding::DOUBLE[]))), 6) AS cos
            FROM fcand f JOIN a qa ON qa.vec_id = f.src
            JOIN b cb ON cb.vec_id = f.dst) t
        QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 4
    ),
    bcand AS (
        SELECT DISTINCT qb.vec_id AS src, cs.vec_id AS dst
        FROM sigs qs JOIN b qb ON qb.vec_id = qs.vec_id
        JOIN sigs cs ON cs.band = qs.band AND cs.band_sig = qs.band_sig
        JOIN a ca ON ca.vec_id = cs.vec_id
    ),
    bwd AS (
        SELECT * FROM (
            SELECT f.src, f.dst,
                   ROUND(list_dot_product(qb.embedding::DOUBLE[], ca.embedding::DOUBLE[]) /
                         (SQRT(list_dot_product(qb.embedding::DOUBLE[], qb.embedding::DOUBLE[]))
                          * SQRT(list_dot_product(ca.embedding::DOUBLE[], ca.embedding::DOUBLE[]))), 6) AS cos
            FROM bcand f JOIN b qb ON qb.vec_id = f.src
            JOIN a ca ON ca.vec_id = f.dst) t
        QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 4
    ),
    ax AS (SELECT src, AVG(cos) AS av FROM fwd GROUP BY src),
    ay AS (SELECT src AS yid, AVG(cos) AS av FROM bwd GROUP BY src),
    scored AS (
        SELECT f.src AS src_id, f.dst AS dst_id,
               ROUND(CASE WHEN (ax.av + ay.av) / 2 > 0
                          THEN f.cos / ((ax.av + ay.av) / 2) END, 6) AS margin
        FROM fwd f JOIN ax ON ax.src = f.src JOIN ay ON ay.yid = f.dst
    )
    SELECT src_id, dst_id, margin FROM scored
    WHERE margin IS NOT NULL AND margin >= 1.0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, dst_id) = 1
    ORDER BY src_id
    """,
)
def sim_margin_mine_ann(spark, sf_dir):
    """Margin mining with the candidate stage swapped for the banded-LSH
    ANN tier (margin_mine(knn=ann_lsh_topk)) — the at-scale composition:
    the margin algebra consumes whatever (query, neighbor, sim) triples
    the tier emits, so the whole pipeline stays equi-join-shaped with no
    brute-force pass. Because the LSH signatures are md5-derived and
    engine-portable, this row's DuckDB twin replays the ENTIRE
    ANN-candidates→top-k→margin pipeline exactly — the composed system
    is oracle-checked, not recall-gated. Neighborhood averages here are
    over the ANN tier's k-NN (the paper's practice at scale); pairs can
    differ from the exact row's where LSH misses a neighbor, which is
    the documented approximation, reproduced identically in SQL."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = emb.filter(F.col("vec_id") % 20 == 0)
    b = emb.filter(F.col("vec_id") % 20 != 0)

    def lsh_knn(corpus, queries, kk):
        return similarity.ann_lsh_topk(
            corpus, queries, k=kk, dim=64, bands=4, bits_per_band=16
        )

    out = similarity.margin_mine(a, b, k=4, threshold=1.0, knn=lsh_knn)
    return out.select("src_id", "dst_id", "margin").orderBy("src_id")


@register(
    "sim_near_dup",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    planes AS (
        SELECT p, i,
               CASE WHEN ASCII(SUBSTRING(MD5(p::VARCHAR || '-' || i::VARCHAR), 1, 1)) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 64) tp(p) CROSS JOIN range(1, 65) ti(i)
    ),
    elems AS (
        SELECT vec_id, ti.i, embedding[ti.i]::DOUBLE AS x
        FROM corpus CROSS JOIN range(1, 65) ti(i)
    ),
    proj AS (
        SELECT vec_id, p, SUM(x * s) AS pr
        FROM elems JOIN planes USING (i) GROUP BY vec_id, p
    ),
    sigs AS (
        SELECT vec_id, CAST(p // 16 AS INT) AS band,
               CAST(SUM(CASE WHEN pr >= 0 THEN 1 << (p % 16) ELSE 0 END) AS INT) AS band_sig
        FROM proj GROUP BY vec_id, p // 16
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
                 (SQRT(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * SQRT(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 6)
               AS cosine_sim
    FROM sigs a
    JOIN sigs b ON a.band = b.band AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id
    JOIN corpus ea ON ea.vec_id = a.vec_id
    JOIN corpus eb ON eb.vec_id = b.vec_id
    WHERE ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
                (SQRT(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                 * SQRT(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 6) >= 0.95
    ORDER BY id_a, id_b
    """,
)
def sim_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs
    (functions.similarity.embedding_near_dup_pairs) over a corpus with
    injected exact-copy vectors (cosine 1.0) — banded 4×16-bit LSH buckets,
    then exact verification above 0.95."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = fan_out(emb.unionAll(dups))
    out = similarity.embedding_near_dup_pairs(
        corpus, threshold=0.95, dim=64, bands=4, bits_per_band=16
    )
    return out.orderBy("id_a", "id_b")


# ---------------------------------------------------------- doc packing


@register(
    "docs_pack",
    headline=True,
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset,
           (cum - n_tokens) % 512 + n_tokens > 512 AS spills
    FROM c
    ORDER BY doc_id
    """,
)
def docs_pack(spark, sf_dir):
    """Training-sequence packing (operators.packing.pack_documents): lay
    documents out contiguously in doc_id order and cut every 512 tokens —
    each doc gets its pack id, offset, and a boundary-spill flag. The
    global token prefix sum runs distributed (operators.window
    .global_running), never a single-partition window."""
    from blazingsql_spark.operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(docs, budget=512).orderBy("doc_id")


@register(
    "docs_bin_pack",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS n
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n > 96 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
           TRUE AS within_budget,
           TRUE AS offsets_tile,
           TRUE AS assigned_once
    FROM t
    """,
)
def docs_bin_pack(spark, sf_dir):
    """Padding-free NO-SPLIT sample packing (operators.packing
    .bin_pack_documents — docs_pack is the splitting layout; this keeps
    documents whole, the LLM sample-packing shape): greedy largest-fit
    strategies computed over the LENGTH HISTOGRAM (budget-bounded, never
    the corpus) and assigned arithmetically from each doc's rank within
    its length group. The row checks the packing's structural invariants
    in-engine — every pack within budget, offsets tiling contiguously
    with no gaps or overlaps, every document assigned exactly once —
    next to SQL-exact corpus totals."""
    from blazingsql_spark.operators.packing import bin_pack_documents

    budget = 96
    docs = load_table(spark, sf_dir, "documents")
    packed = bin_pack_documents(docs, budget=budget)
    per_pack = (
        packed.filter(~F.col("oversize"))
        .groupBy("pack_id")
        .agg(
            F.sum("n_tokens").alias("load"),
            F.max(F.col("pack_offset") + F.col("n_tokens")).alias("end"),
            F.min("pack_offset").alias("start"),
        )
    )
    pack_ok = per_pack.agg(
        F.max(F.col("load") > budget).alias("over"),
        F.max((F.col("load") != F.col("end")) | (F.col("start") != 0)).alias(
            "untiled"
        ),
    )
    totals = packed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_ids"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("oversize").cast("long")).cast("long").alias("n_oversize"),
    )
    n_docs = docs.count()
    return totals.crossJoin(F.broadcast(pack_ok)).select(
        F.col("n_rows").alias("n_docs"),
        "total_tokens",
        "n_oversize",
        (~F.coalesce(F.col("over"), F.lit(False))).alias("within_budget"),
        (~F.coalesce(F.col("untiled"), F.lit(False))).alias("offsets_tile"),
        ((F.col("n_rows") == F.lit(n_docs)) & (F.col("n_ids") == F.lit(n_docs))).alias(
            "assigned_once"
        ),
    )


# ------------------------------------------------------------ multimodal


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           OCTET_LENGTH(text::BLOB)::BIGINT AS n_bytes,
           SHA256(text) AS payload_sha
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_meta(spark, sf_dir):
    """Opaque-binary payload plumbing (functions.multimodal): bytes column +
    typed metadata struct, all JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = multimodal.with_media_meta(multimodal.attach_binary(docs))
    return with_bin.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    ).orderBy("doc_id")


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(OCTET_LENGTH(text::BLOB) AS BIGINT) AS n_bytes,
           16 AS feat_dim,
           CAST((STRPOS('0123456789abcdef', SUBSTRING(SHA256(text), 1, 1)) - 1) * 16
                + STRPOS('0123456789abcdef', SUBSTRING(SHA256(text), 2, 1)) - 1
                AS INT) AS f0_byte
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_decode(spark, sf_dir):
    """Arrow-batched media decode via mapInPandas
    (functions.multimodal.decode_features). The stand-in decoder (no media
    libs in container) is a deterministic sha256-seeded feature vector, so
    the oracle CAN check it: feature[0] == sha256(payload)[0]/255, recovered
    here as an exact byte. The Spark plumbing (schema, Arrow batching,
    partition shape) is the production path."""
    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.decode_features(multimodal.attach_binary(docs), feature_dim=16)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.size("features").alias("feat_dim"),
        F.round(F.element_at("features", 1).cast("double") * 255.0).cast("int").alias("f0_byte"),
    ).orderBy("doc_id")


# Nested types (absent in the reference, SURVEY §1.2 LIST/STRUCT/MAP
# "absent") — parse the events JSON props into a struct and aggregate over
# array/struct expressions.
pair(
    "nested_struct_ops",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(from_json(props, 'k INT').k) AS BIGINT) AS sum_k,
           MAX(SIZE(SPLIT(props, ':'))) AS max_parts,
           MIN(ARRAY(1, 2, 3)[0]) AS arr_first
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           MAX(LEN(string_split(props, ':'))) AS max_parts,
           MIN(([1, 2, 3])[1]) AS arr_first
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tables=("events",),
    doc="struct/array/JSON expressions — Spark-native superset of the reference's flat-only types",
)


@register(
    "sim_ann_ivf",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 100 = 0
    """,
)
def sim_ann_ivf(spark, sf_dir):
    """IVF ANN (functions.similarity.ivf_topk): deterministic k-means
    inverted lists, auto-probed search (auto_n_probe = 8-of-16 here —
    the recall-floor default; explicit n_probe=4 measured 0.64-0.66 at
    the SF extremes, auto measures 0.84-0.96). Inverted-list contents
    aren't SQL-expressible, but recall@k against the exact brute-force
    top-k IS deterministic — reported as a thresholded boolean the
    oracle asserts TRUE (gate floor 0.8 since r9)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    approx = (
        similarity.ivf_topk(emb, queries, k=5, n_centroids=16)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return _recall_gate(exact, approx, threshold=0.8)


def _recall_gate(exact, approx, threshold: float = 0.6):
    """exact⟕approx recall aggregate, thresholded. The raw n_recalled is
    NOT in the output (not SQL-oracle-predictable); use
    ann_recall_telemetry for the measured numbers. Floors: 0.8 for the
    auto-probed ivf/hnsw rows (VERDICT r8 item 4), 0.6 for the
    compression tiers whose recall is settings-bound (pq/ivfpq)."""
    marked = exact.join(approx, ["query_id", "vec_id"], "left")
    return marked.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact_results"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_recalled"),
    ).select(
        "n_queries",
        "n_exact_results",
        (F.col("n_recalled") >= F.col("n_exact_results") * threshold).alias(
            "recall_ok"
        ),
    )


def ann_recall_telemetry(spark, sf_dir: str) -> dict[str, float]:
    """Measured recall@5 per ANN tier (tools/local_gate.py records this in
    PROGRESS.jsonl each round so recall drift is visible, not just
    thresholded — VERDICT r2 item 6). Re-runs each tier's exact+approx
    pair with the registered queries' own settings."""
    out: dict[str, float] = {}
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    def _pq():
        books = similarity.pq_train_codebooks(emb, m=16, ksub=16, iterations=3)
        enc = similarity.pq_encode(emb, books, m=16)
        return similarity.pq_topk_reranked(emb, enc, books, queries, k=5, m=16, ksub=16)

    def _hnsw():
        from blazingsql_spark.operators import hnsw

        return hnsw.hnsw_ivf_topk(
            emb, queries, k=5, n_centroids=16, ef=64
        )

    # filtered tier: its exact baseline is the FILTERED corpus (recall
    # must measure the ANN routing, not the predicate), and the probe
    # count is pinned like the registry row's — the selectivity
    # auto-widening saturates at a halving filter, which would log a
    # constant 1.0 and hide drift
    flt = "label % 2 = 0"
    exact_f = similarity.cosine_topk(emb.filter(flt), queries, k=5).select(
        "query_id", "vec_id"
    )
    tiers = {
        "sim_ann_ivf": (exact, lambda: similarity.ivf_topk(
            emb, queries, k=5, n_centroids=16
        )),
        "sim_ann_pq": (exact, _pq),
        "sim_ann_ivfpq": (exact, lambda: similarity.ivfpq_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6, m=16, ksub=16
        )),
        "sim_ann_ivf_int8": (exact, lambda: similarity.ivf_int8_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6
        )),
        # r6-staged registry row; telemetered now so drift history exists
        # before the row lands (ef >= n_centroids -> equals the IVF tier)
        "sim_ann_hnsw": (exact, _hnsw),
        "sim_ann_filtered": (exact_f, lambda: similarity.ivf_topk_filtered(
            emb, queries, flt, k=5, n_centroids=16, n_probe=10
        )),
        # r11 tiers (registered for the r12 window): flat-PQ and
        # multi-probe LSH filtered serving, same settings as their rows
        "sim_ann_filtered_pq": (exact_f, lambda: similarity.pq_topk_filtered(
            emb, queries, flt, k=5, m=16, ksub=16
        )),
        "sim_ann_filtered_lsh": (exact_f, lambda: similarity.ann_lsh_topk_filtered(
            emb, queries, flt, k=5, dim=64, bands=16, bits_per_band=8
        )),
    }
    for name, (base, build) in tiers.items():
        approx = build().select("query_id", "vec_id").withColumn("hit", F.lit(1))
        row = (
            base.join(approx, ["query_id", "vec_id"], "left")
            .agg(
                F.count("*").alias("n_exact"),
                F.coalesce(F.sum("hit"), F.lit(0)).alias("n_recalled"),
            )
            .collect()[0]
        )
        out[name] = round(row["n_recalled"] / row["n_exact"], 4) if row["n_exact"] else None
    return out


@register(
    "text_winnowing",
    oracle="""
    WITH grams AS (
        SELECT doc_id, pos, MD5(SUBSTRING(text, pos, 8)) AS gram_hash
        FROM documents
        CROSS JOIN LATERAL (
            SELECT UNNEST(range(1, GREATEST(LENGTH(text) - 7, 0) + 1)) AS pos
        ) p
    )
    SELECT DISTINCT doc_id,
           MIN(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS fingerprint
    FROM grams
    ORDER BY doc_id, fingerprint
    """,
)
def text_winnowing(spark, sf_dir):
    """Rolling-hash winnowing fingerprints
    (functions.text.winnowing_fingerprints): char-8-gram md5 + sliding
    window-4 minima, distinct per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return text.winnowing_fingerprints(docs, k=8, window=4).orderBy("doc_id", "fingerprint")


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id, 16 AS width, 16 AS height,
           CASE WHEN OCTET_LENGTH(text::BLOB) = 0 THEN 0 ELSE 256 END AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_resize(spark, sf_dir):
    """Resize plumbing (functions.multimodal.resize_images) over the FULL
    documents table: binary in → binary out with target dims, Arrow-batched.
    The stand-in resizer emits exactly width*height bytes (cycled input), so
    the oracle checks the output geometry deterministically."""
    docs = load_table(spark, sf_dir, "documents")
    out = multimodal.resize_images(multimodal.attach_binary(docs), width=16, height=16)
    return out.select(
        "doc_id", "width", "height", F.length("resized").alias("n_bytes")
    ).orderBy("doc_id")


# ------------------------------------------------- sampling / split / shard
# Training-data corpus management (functions.sampling): deterministic
# hash-keyed decisions, so every one is per-row, shuffle-free to ASSIGN,
# stable as the corpus grows, and bit-identical in DuckDB (same md5-prefix
# bucket both sides). Reference parity: BlazingSQL rejects SAMPLE
# (algebra unimplemented); this is the training superset surface.

_BUCKET_ORACLE = "('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {n}"


@register(
    "split_assign",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, {_BUCKET_ORACLE.format(salt="split", n=10000)} AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM b GROUP BY 1 ORDER BY split
    """,
)
def split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (functions.sampling
    .assign_split): 90/5/5 by salted hash bucket of doc_id. Stable under
    corpus growth — appended documents never move existing rows across
    splits. Output is the per-split census with an id checksum."""
    from blazingsql_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.assign_split(docs, "doc_id")
    return (
        out.groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_checksum"))
        .orderBy("split")
    )


@register(
    "sample_stratified",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_BUCKET_ORACLE.format(salt="cap", n=1073741824)}, doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE rn <= 40 GROUP BY lang ORDER BY lang
    """,
)
def sample_stratified(spark, sf_dir):
    """Domain-balancing cap (functions.sampling.stratified_cap): keep at
    most 40 documents per language, selected by stable hash order — an
    unbiased deterministic downsample with one shuffle on the group key.
    Output: per-language kept-count and id checksum."""
    from blazingsql_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.stratified_cap(docs, ["lang"], cap=40)
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("doc_id").alias("id_checksum"))
        .orderBy("lang")
    )


@register(
    "shard_assign",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, {_BUCKET_ORACLE.format(salt="shard", n=64)} AS shard
        FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def shard_assign(spark, sf_dir):
    """Hash-shard layout for training export (functions.sampling
    .assign_shard): 64 stable shards; doubles as a global shuffle (destroys
    crawl-order locality without an ORDER BY RAND() pass). Output: per-
    shard census."""
    from blazingsql_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.assign_shard(docs, "doc_id", n_shards=64)
    return (
        out.groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_checksum"))
        .orderBy("shard")
    )


@register(
    "text_redact",
    oracle=r"""
    WITH pii AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1 555-000-' || CAST(doc_id AS VARCHAR)
                    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                   '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
        FROM pii
    )
    SELECT doc_id, md5(text_redacted) AS fp_redacted,
           NOT contains(text_redacted, '@example.com')
               AND contains(text_redacted, '<EMAIL>')
               AND contains(text_redacted, '<PHONE>')
               AND contains(text_redacted, '<IP>') AS scrubbed
    FROM red ORDER BY doc_id
    """,
)
def text_redact(spark, sf_dir):
    """PII scrubbing (functions.text.redact_pii): emails, phone-like digit
    runs, IPv4 literals → typed placeholders, as pure codegen
    regexp_replace chains. The fixture has no organic PII, so the query
    plants a synthetic email+phone+IP per document (keyed on doc_id) and
    verifies every one is scrubbed; fp_redacted hash-checks the exact
    redacted text against DuckDB's RE2 doing the same replacements."""
    from blazingsql_spark.functions.text import add_redacted

    docs = load_table(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-000-"), F.col("doc_id").cast("string"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
        ).alias("text"),
    )
    red = add_redacted(pii)
    return red.select(
        "doc_id",
        F.md5("text_redacted").alias("fp_redacted"),
        (
            ~F.col("text_redacted").contains("@example.com")
            & F.col("text_redacted").contains("<EMAIL>")
            & F.col("text_redacted").contains("<PHONE>")
            & F.col("text_redacted").contains("<IP>")
        ).alias("scrubbed"),
    ).orderBy("doc_id")


@register(
    "vocab_topk",
    oracle=r"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks WHERE token <> ''
    GROUP BY token ORDER BY n DESC, token LIMIT 100
    """,
)
def vocab_topk(spark, sf_dir):
    """Corpus vocabulary head (tokenizer-training prep): whitespace
    tokens → global frequency → top-100. explode + two-phase count with
    map-side partial aggregation; ties broken by token text so the cut is
    total-ordered and engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )


@register(
    "docs_tokenize_ids",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    toks AS (
        SELECT doc_id, g.i AS pos, toks[g.i] AS token
        FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(toks))) AS i) g
    ),
    counts AS (
        SELECT token, COUNT(*) AS n FROM toks GROUP BY token
        ORDER BY n DESC, token LIMIT 100
    ),
    vocab AS (
        SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS id
        FROM counts
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ARRAY_TO_STRING(list(CAST(COALESCE(v.id, 0) AS BIGINT) ORDER BY t.pos), ',')
               AS token_ids
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def docs_tokenize_ids(spark, sf_dir):
    """Vocabulary encoding (the tokenize step between corpus prep and
    docs_pack's sequence layout): map each token to its id in a
    frequency-ranked top-100 vocab (rank = count desc, token asc — total
    order, engine-identical), OOV → 0 (UNK). The vocab is 100 rows —
    broadcast onto the token stream (never a shuffle keyed on token
    text); per-doc id sequences reassemble order-exactly via
    sort_array(struct(pos,id)). Output: (doc_id, n_tokens, token_ids)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )
    # 100-row table: the global row_number window is a one-task no-op
    vocab = counts.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "token"))
        .cast("long")
        .alias("id"),
    )
    ids = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0).cast("long")).alias("id")
    )
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # serialized for the driver compare (its canonicalizer cannot
            # hash list cells); order-exact via sort_array(struct(pos,id))
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                ",",
            ).alias("token_ids"),
        )
        .orderBy("doc_id")
    )


@register(
    "sim_ann_pq",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 100 = 0
    """,
)
def sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN (functions.similarity.pq_*): corpus
    compressed ~32x to 16 4-bit codes + a norm, scanned via ADC table
    lookups, exact re-rank of the 50-candidate pool. Codebook contents
    aren't SQL-expressible, but recall@5 vs the exact top-k is
    deterministic end-to-end (md5-seeded training, fixed fold order) —
    reported as a thresholded boolean the oracle asserts TRUE (measured
    0.85-0.96 across the three SFs; floor raised 0.6 -> 0.75 in r12 per
    VERDICT-r11 so a silent recall regression trips the gate before the
    telemetry drifts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.pq_train_codebooks(emb, m=16, ksub=16, iterations=3)
    enc = similarity.pq_encode(emb, books, m=16)
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    approx = (
        similarity.pq_topk_reranked(emb, enc, books, queries, k=5, m=16, ksub=16)
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return _recall_gate(exact, approx, threshold=0.75)


@register(
    "sim_ann_ivfpq",
    headline=True,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 100 = 0
    """,
)
def sim_ann_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (functions.similarity.ivfpq_topk): coarse quantizer
    routes to inverted lists, residual-PQ codes (~32x compression) rank
    within the probed lists, exact re-rank finishes. Deterministic
    end-to-end; recall@5 vs brute force reported as a thresholded boolean
    (measured 0.83-1.0 across the three SFs; floor raised 0.6 -> 0.75 in
    r12 per VERDICT-r11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    approx = (
        similarity.ivfpq_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6, m=16, ksub=16,
            prebuilt=_ivfpq_index(spark, sf_dir, emb),
        )
        .select("query_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    return _recall_gate(exact, approx, threshold=0.75)


# Session-scoped prebuilt IVF-PQ index, keyed by (application, sf_dir).
# Mirrors production ANN: the index is built ONCE and probed per query —
# repeated calls (bench best-of-N, multiple queries) measure the probe
# path, not a from-scratch rebuild. Deterministic either way: a fresh
# session rebuilds the identical index (md5-seeded training).
_IVFPQ_PREBUILT: dict = {}


def _ivfpq_index(spark, sf_dir: str, emb):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVFPQ_PREBUILT:
        cents, books, encoded = similarity.ivfpq_build(emb, n_centroids=8, m=16, ksub=16)
        # persist the codes at a SIZE-AWARE width (r13, VERDICT r12 #1):
        # the r12 full-core fan-out (32-way) of this few-MB resident table
        # cost more in task scheduling across ~18 sequential probe jobs
        # than it bought (driver: ivfpq 2.17->4.32 s, faster at 8 cores);
        # but the natural single-row-group layout serializes the ADC-fold
        # scoring stage on ONE task (measured: the biggest probe stage at
        # sf0.1). per_task_rows sizes the width from the row count of the
        # embeddings file the codes are built from (8 tasks at sf0.1); on
        # real many-row-group inputs fan_out is a no-op and the persisted
        # layout is whatever the build's own shuffles left it in.
        encoded = fan_out(encoded, per_task_rows=256).persist()
        encoded.count()  # materialize the compressed codes now
        _IVFPQ_PREBUILT[key] = (cents, books, encoded)
    return _IVFPQ_PREBUILT[key]


@register(
    "sim_ann_ivf_pca",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS pca_tracks_float
    FROM embeddings WHERE vec_id % 100 = 0
    """,
)
def sim_ann_ivf_pca(spark, sf_dir):
    """IVF with PCA-reduced routing (functions.similarity.ivf_pca_topk):
    centroids trained and probed in the top-16 PCA subspace (4x fewer
    multiply-adds per routing distance — the FAISS coarse-quantizer
    trick), candidates reranked with exact full-dim cosine, so the
    reduction only decides which lists are probed. Two gates: recall@5
    vs brute force (>= 0.6, the tier standard) and a recall-delta gate
    vs full-dim ivf_topk at identical settings (within max(1, 5% of
    exact results) — looser than int8's 2% because the candidate SETS
    legitimately differ when routing spaces differ). Measured recall
    0.96-0.97 at sf0.001-0.1, within noise of full-dim routing.
    Composes pca_fit with the ANN stack the way PcaIngest's maintained
    model is meant to be consumed. Both indexes are session-cached per
    (app, sf_dir) — the train-once serve-many discipline that took
    sim_ann_ivf_int8 from 5.5 to 2 s (round 8); a driver execution
    re-measures PROBING, not Lloyd's loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    model, pca_prebuilt, f_prebuilt = _ivf_pca_index(spark, sf_dir, emb)
    approx_pca = (
        similarity.ivf_pca_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6, pca_k=16,
            model=model, prebuilt=pca_prebuilt,
        )
        .select("query_id", "vec_id")
        .withColumn("hitp", F.lit(1))
    )
    approx_f = (
        similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6, prebuilt=f_prebuilt
        )
        .select("query_id", "vec_id")
        .withColumn("hitf", F.lit(1))
    )
    marked = exact.join(approx_pca, ["query_id", "vec_id"], "left").join(
        approx_f, ["query_id", "vec_id"], "left"
    )
    return marked.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact_results"),
        F.coalesce(F.sum("hitp"), F.lit(0)).cast("long").alias("np"),
        F.coalesce(F.sum("hitf"), F.lit(0)).cast("long").alias("nf"),
    ).select(
        "n_queries",
        "n_exact_results",
        (F.col("np") >= F.col("n_exact_results") * 0.6).alias("recall_ok"),
        (
            F.col("np")
            >= F.col("nf")
            - F.greatest(F.lit(1), F.ceil(F.col("n_exact_results") * 0.05))
        ).alias("pca_tracks_float"),
    )


@register(
    "sim_ann_ivf_int8",
    headline=True,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_exact_results,
           TRUE AS recall_ok,
           TRUE AS int8_tracks_float
    FROM embeddings WHERE vec_id % 100 = 0
    """,
)
def sim_ann_ivf_int8(spark, sf_dir):
    """IVF + int8 scalar-quantizer ANN (functions.similarity.ivf_int8_topk):
    float centroid routing, dequantize-free integer dot products over the
    4x-compressed corpus — the serving-path composition of quantize_int8
    with the ANN stack. Two gates in one row: recall@5 vs brute force
    (threshold 0.6, same as the other tiers) AND a recall-DELTA gate vs
    the float ivf_topk at identical settings — the candidate sets are
    identical (same md5-seeded centroids), so any gap is pure
    quantization rank-flip, allowed at most max(1, 2% of exact results).
    Measured: int8 recall == float recall exactly at sf0.001-0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(
        fan_out(emb), queries, k=5
    ).select("query_id", "vec_id")
    cents, qlists, flists = _ivf_int8_index(spark, sf_dir, emb)
    approx8 = (
        similarity.ivf_int8_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6,
            prebuilt=(cents, qlists),
        )
        .select("query_id", "vec_id")
        .withColumn("hit8", F.lit(1))
    )
    approxf = (
        similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=6,
            prebuilt=(cents, flists),
        )
        .select("query_id", "vec_id")
        .withColumn("hitf", F.lit(1))
    )
    marked = exact.join(approx8, ["query_id", "vec_id"], "left").join(
        approxf, ["query_id", "vec_id"], "left"
    )
    return marked.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact_results"),
        F.coalesce(F.sum("hit8"), F.lit(0)).cast("long").alias("n8"),
        F.coalesce(F.sum("hitf"), F.lit(0)).cast("long").alias("nf"),
    ).select(
        "n_queries",
        "n_exact_results",
        # floor raised 0.8 -> 0.85 in r12 (measured 0.94-0.96 across SFs;
        # VERDICT-r11: floors should sit at measured-minus-margin so a
        # silent recall regression trips the gate, not just telemetry)
        (F.col("n8") >= F.col("n_exact_results") * 0.85).alias("recall_ok"),
        (
            F.col("n8")
            >= F.col("nf")
            - F.greatest(F.lit(1), F.ceil(F.col("n_exact_results") * 0.02))
        ).alias("int8_tracks_float"),
    )


# Session-scoped prebuilt PCA-routed IVF index (same discipline as
# _IVF_INT8_PREBUILT): the PCA fit, both centroid trainings, and both
# assignments happen once per (app, sf_dir); executions re-measure probing.
_IVF_PCA_PREBUILT: dict = {}


def _ivf_pca_index(spark, sf_dir: str, emb):
    """Returns (pca_model, (pca_cents, pca_lists), (f_cents, f_lists)).
    Training is md5-seeded and deterministic, so prebuilt results equal
    the self-training path."""
    from blazingsql_spark.functions.ml import pca_fit, pca_transform

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_PCA_PREBUILT:
        model = pca_fit(emb, k=16)
        proj = pca_transform(emb, model, out_col="__proj")
        p_cents = similarity.ivf_train_centroids(
            proj, k=8, vec_col="__proj", dim=16
        )
        p_lists = (
            similarity.assign_to_centroids(proj, p_cents, "vec_id", "__proj")
            .select("vec_id", "centroid_id")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .persist()
        )
        p_lists.count()
        # the full-dim comparison index is bit-identical to the one
        # _ivf_int8_index builds (md5-seeded deterministic training) —
        # share it rather than training and persisting a second copy
        f_cents, _qlists, f_lists = _ivf_int8_index(spark, sf_dir, emb)
        _IVF_PCA_PREBUILT[key] = (model, (p_cents, p_lists), (f_cents, f_lists))
    return _IVF_PCA_PREBUILT[key]


# Session-scoped prebuilt IVF-int8 index (same discipline as _IVFPQ_PREBUILT).
_IVF_INT8_PREBUILT: dict = {}


def _ivf_int8_index(spark, sf_dir: str, emb):
    """Returns (centroids, quantized_lists, float_lists). The float lists
    share the SAME training run as the int8 index (training is md5-seeded
    and deterministic, so results equal ivf_topk's self-training path) —
    without this the recall-delta comparison re-ran Lloyd + assignment on
    every execution, ~4s of the bench line that measured training, not
    serving (round 8)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_INT8_PREBUILT:
        cents = similarity.ivf_train_centroids(emb, k=8, dim=64)
        # size-aware persist width (r13, VERDICT r12 #1): see _ivfpq_index —
        # 8 tasks at sf0.1 parallelize the int8 dot-fold scoring stage
        # (single-task at natural layout, 32-way oversharded under r12)
        flists = fan_out(
            similarity.assign_to_centroids(emb, cents, "vec_id", "embedding"),
            per_task_rows=256,
        ).persist()
        qlists = similarity.quantize_int8(
            flists.withColumn("__norm", similarity.l2_norm(F.col("embedding"))),
            keep_cols=("centroid_id", "__norm"),
        ).persist()
        qlists.count()  # materialize the quantized + float lists now
        flists.count()
        _IVF_INT8_PREBUILT[key] = (cents, qlists, flists)
    return _IVF_INT8_PREBUILT[key]


def reset_resident_indexes() -> None:
    """Drop every session-scoped prebuilt ANN index (IVF-PQ and the HNSW
    index graph_ann keeps in the same dict, IVF-int8, PCA-routed IVF), so
    the next execution rebuilds from source. Call it after unpersisting
    the session's RDDs: a localCheckpoint'ed index cannot be recomputed
    once its blocks are gone."""
    _IVFPQ_PREBUILT.clear()
    _IVF_INT8_PREBUILT.clear()
    _IVF_PCA_PREBUILT.clear()


@register(
    "pipeline_prepare_corpus",
    headline=True,
    oracle=r"""
    WITH q AS (
        SELECT doc_id, text FROM documents
        WHERE (LEN(string_split_regex(TRIM(text), '\s+')) BETWEEN 5 AND 100000)
          AND (LENGTH(text) * 1.0 / GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1)
               BETWEEN 2 AND 15)
          AND (LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
               / GREATEST(LENGTH(text), 1) <= 0.3)
    ),
    d AS (
        SELECT MIN(doc_id) AS doc_id FROM q GROUP BY MD5(text)
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9000 THEN 'train'
                    WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < 9500 THEN 'val'
                    ELSE 'test' END AS split,
               ('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS shard
        FROM d
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY split ORDER BY split
    """,
)
def pipeline_prepare_corpus(spark, sf_dir):
    """The end-to-end crawl-prep recipe, composed from the toolkit in one
    declarative plan: quality gate (text.quality_ok, codegen expressions)
    -> exact dedup (one shuffle on md5) -> hash-stable train/val/test split
    + shard assignment (pure projections) -> per-split census. One Catalyst
    plan end to end: the quality filter rides the scan, dedup is the only
    wide stage, assignment adds zero exchanges — the 100 TB shape where
    the whole pipeline costs one pass + one shuffle."""
    from blazingsql_spark.functions import sampling
    from blazingsql_spark.functions.text import quality_ok

    docs = load_table(spark, sf_dir, "documents")
    kept = quality_ok(docs.select("doc_id", "text")).filter("quality_ok")
    deduped = kept.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    assigned = sampling.assign_shard(
        sampling.assign_split(deduped, "doc_id"), "doc_id", n_shards=64
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("shard").alias("n_shards"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("split")
    )


@register(
    "docs_chunk",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(TRIM(text), '\s+') END AS toks
        FROM documents
    ),
    n AS (
        SELECT doc_id, toks, LEN(toks) AS n_tokens,
               CASE WHEN LEN(toks) > 32
                    THEN CAST(FLOOR((LEN(toks) - 32 + 23) / 24) AS INT) + 1
                    ELSE 1 END AS n_chunks
        FROM t
    ),
    c AS (
        SELECT doc_id, toks, UNNEST(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM n
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           md5(array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) AS fp_chunk,
           CASE WHEN LENGTH(array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) = 0 THEN 0
                ELSE LEN(string_split(array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' '), ' ')) END
               AS n_chunk_tokens
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def docs_chunk(spark, sf_dir):
    """Context-window chunking (operators.packing.chunk_documents):
    max 32 tokens per chunk, 8-token overlap (stride 24). Scan-side
    posexplode, zero shuffles before the ordering; the oracle recomputes
    the identical slicing with DuckDB 1-based list windows and compares
    chunk-text md5s exactly."""
    from blazingsql_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, max_tokens=32, overlap=8)
    return out.select(
        "doc_id", "chunk_id", F.md5("chunk_text").alias("fp_chunk"), "n_chunk_tokens"
    ).orderBy("doc_id", "chunk_id")


@register(
    "dedup_contamination",
    oracle=r"""
    WITH train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ),
    eval_set AS (  -- half verbatim leaks, half perturbed (near) leaks
        SELECT doc_id + 500000 AS doc_id, text FROM documents
        WHERE doc_id % 6 = 1
        UNION ALL
        SELECT doc_id + 600000 AS doc_id, text || ' zz' AS text FROM documents
        WHERE doc_id % 6 = 2
    ),
    exact AS (
        SELECT e.doc_id AS eval_id, t.doc_id AS train_id, 'exact' AS match_kind
        FROM eval_set e JOIN train t ON MD5(e.text) = MD5(t.text)
    ),
    d_train AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws FROM train),
    tok_train AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(range(1, LEN(ws)),
                      i -> ws[i] || ' ' || ws[i+1]))) AS shingle
        FROM d_train
    ),
    mh_train AS (
        SELECT doc_id, seed, MIN(MD5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM tok_train CROSS JOIN range(1, 9) r(seed)
        GROUP BY doc_id, seed
    ),
    sig_train AS (
        SELECT doc_id, (seed - 1) // 2 AS band,
               MD5(string_agg(minhash, '|' ORDER BY seed)) AS band_hash
        FROM mh_train GROUP BY doc_id, (seed - 1) // 2
    ),
    d_eval_set AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws FROM eval_set),
    tok_eval_set AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(range(1, LEN(ws)),
                      i -> ws[i] || ' ' || ws[i+1]))) AS shingle
        FROM d_eval_set
    ),
    mh_eval_set AS (
        SELECT doc_id, seed, MIN(MD5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM tok_eval_set CROSS JOIN range(1, 9) r(seed)
        GROUP BY doc_id, seed
    ),
    sig_eval_set AS (
        SELECT doc_id, (seed - 1) // 2 AS band,
               MD5(string_agg(minhash, '|' ORDER BY seed)) AS band_hash
        FROM mh_eval_set GROUP BY doc_id, (seed - 1) // 2
    ),
    near AS (
        SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
        FROM sig_eval_set e JOIN sig_train t
          ON e.band = t.band AND e.band_hash = t.band_hash
    ),
    near_only AS (
        SELECT n.eval_id, n.train_id, 'near' AS match_kind
        FROM near n ANTI JOIN exact x
          ON n.eval_id = x.eval_id AND n.train_id = x.train_id
    )
    SELECT * FROM (SELECT * FROM exact UNION ALL SELECT * FROM near_only)
    ORDER BY eval_id, train_id, match_kind
    """,
)
def dedup_contamination(spark, sf_dir):
    """Train/eval contamination detection (functions.dedup
    .detect_contamination): plant verbatim and near-verbatim eval leaks,
    find them with the md5-equi-join (exact) + banded MinHash (near)
    probes. Oracle recomputes both probes in SQL over the same corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 3 != 0)
    eval_set = (
        docs.filter(F.col("doc_id") % 6 == 1)
        .select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 6 == 2).select(
                (F.col("doc_id") + 600000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz")).alias("text"),
            )
        )
    )
    out = dedup.detect_contamination(train, eval_set)
    return out.orderBy("eval_id", "train_id", "match_kind")


@register(
    "text_repetition",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS ws FROM documents
    ),
    g AS (
        SELECT doc_id, UNNEST(list_transform(range(1, LEN(ws)),
                              i -> ws[i] || ' ' || ws[i+1])) AS bigram
        FROM d WHERE LEN(ws) >= 2
    ),
    pg AS (
        SELECT doc_id, bigram, COUNT(*) AS n FROM g GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           FLOOR(COUNT(*) * 1.0 / SUM(n) * 1000000) / 1000000 AS distinct_ratio,
           FLOOR(MAX(n) * 1.0 / SUM(n) * 1000000) / 1000000   AS top_frac
    FROM pg GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Repetition quality signals (functions.text.repetition_stats):
    distinct-bigram ratio and top-bigram share per document — the
    loop/boilerplate detectors. FLOOR-grid on the ratios for cross-engine
    hash equality."""
    from blazingsql_spark.functions.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        (F.floor(F.col("distinct_bigram_ratio") * 1000000) / 1000000).alias("distinct_ratio"),
        (F.floor(F.col("top_bigram_frac") * 1000000) / 1000000).alias("top_frac"),
    ).orderBy("doc_id")


@register(
    "text_stopwords",
    oracle=r"""
    SELECT doc_id,
           FLOOR(
               LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                   t -> list_contains(['the','of','and','a','to','in','is','it','that','for',
                                       'on','was','with','as','at','by','be','this','are','or'], t)))
               * 1.0
               / GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')), 1)
               * 1000000) / 1000000 AS stop_ratio,
           LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               t -> list_contains(['the','of','and','a','to','in','is','it','that','for',
                                   'on','was','with','as','at','by','be','this','are','or'], t)))
               * 1.0
               / GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')), 1) >= 0.05
               AS looks_prose
    FROM documents ORDER BY doc_id
    """,
)
def text_stopwords(spark, sf_dir):
    """Stopword-fraction quality rule (functions.text.stopword_ratio):
    natural prose carries a stable stopword share; spam/keyword lists do
    not. Pure codegen (filter-lambda over the token array, no explode)."""
    from blazingsql_spark.functions.text import stopword_ratio

    docs = load_table(spark, sf_dir, "documents")
    r = stopword_ratio(F.col("text"))
    return docs.select(
        "doc_id",
        (F.floor(r * 1000000) / 1000000).alias("stop_ratio"),
        (r >= 0.05).alias("looks_prose"),
    ).orderBy("doc_id")


@register(
    "profile_lineitem",
    oracle="""
    SELECT 'l_orderkey' AS "column", CAST(MIN(l_orderkey) AS DOUBLE) AS min_v,
           CAST(MAX(l_orderkey) AS DOUBLE) AS max_v,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE),
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT)
    FROM lineitem
    ORDER BY "column"
    """,
)
def profile_lineitem(spark, sf_dir):
    """Single-pass table profiling (operators.profile.profile_table): the
    reference's create_table metadata collection as a first-class op.
    Exact distinct here so the oracle can recompute; production default is
    HLL++."""
    from blazingsql_spark.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    out = profile_table(li, ["l_orderkey", "l_quantity", "l_discount"], exact_distinct=True)
    return out.orderBy("column")


pair(
    "events_trending",
    """
    WITH w AS (
        SELECT window(ts, '1 hour').start AS window_start, event_type,
               COUNT(*) AS n
        FROM events GROUP BY window(ts, '1 hour'), event_type
    ),
    ranked AS (
        SELECT window_start, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type) AS rnk
        FROM w
    )
    SELECT window_start, event_type, n, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type) AS rnk
        FROM w
    )
    SELECT window_start, event_type, n, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
    tables=("events",),
    doc="per-window trending top-k: tumbling count + deterministic rank cut "
        "— the windowed-leaderboard composite (two shuffles: window-grain "
        "agg, then a window over the already-aggregated grain)",
)


pair(
    "events_hopping_window",
    """
    SELECT window_start, event_type, n, v FROM (
        SELECT window(ts, '10 minutes', '5 minutes').start AS window_start,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        FROM events GROUP BY window(ts, '10 minutes', '5 minutes'), event_type
    ) t
    ORDER BY window_start, event_type
    """,
    # every event falls in exactly width/slide = 2 epoch-aligned windows:
    # time_bucket(5m, ts) and time_bucket(5m, ts) - 5m — materialized with
    # a 2-row range join, the relational spelling of Spark's hop expansion
    oracle="""
    WITH e AS (
        SELECT event_type, value,
               time_bucket(INTERVAL '5 minutes', ts) AS b
        FROM events
    ),
    hop AS (
        SELECT event_type, value,
               b - (k * INTERVAL '5 minutes') AS window_start
        FROM e CROSS JOIN range(0, 2) r(k)
    )
    SELECT window_start, event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
    FROM hop GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tables=("events",),
    doc="hopping (sliding) event-time windows — width 10m, slide 5m; the "
        "overlapping-window batch twin of streaming sliding aggregation",
)


@register(
    "sample_weighted",
    oracle="""
    WITH s AS (
        SELECT doc_id, n_chars,
               ('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000 AS bucket,
               CAST(LEAST(n_chars / 1000.0, 1.0) * 1000000 AS BIGINT) AS thresh
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM s WHERE bucket < thresh
    """,
)
def sample_weighted(spark, sf_dir):
    """Length-weighted deterministic sampling (functions.sampling
    .weighted_sample): keep probability = min(n_chars/1000, 1) — longer
    documents survive preferentially, decisions are hash-stable. Census
    output for the oracle."""
    from blazingsql_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.weighted_sample(
        docs, F.least(F.col("n_chars") / 1000.0, F.lit(1.0)), "doc_id"
    )
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("chars_kept"),
    )


@register(
    "sample_domain_mix",
    oracle="""
    WITH w(lang, w) AS (
        VALUES ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
               ('es', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE)),
               ('zh', CAST(0.1 AS DOUBLE))
    ),
    c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
    t AS (SELECT MIN(c.c / w.w) AS T FROM c JOIN w ON c.lang = w.lang),
    r AS (
        SELECT c.lang,
               CAST(FLOOR(1000000 * t.T * w.w / c.c) AS BIGINT) AS thresh
        FROM c JOIN w ON c.lang = w.lang CROSS JOIN t
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < r.thresh
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def sample_domain_mix(spark, sf_dir):
    """Domain-mix resampling (functions.sampling.domain_mix_sample): keep
    rates per language derived from target weights 40/20/20/10/10 vs the
    corpus's natural mix — the binding domain keeps 100%, everything else
    downsamples to match. Map-only filter after a |domains|-row broadcast;
    census output per language."""
    from blazingsql_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.domain_mix_sample(
        docs,
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1},
        domain_col="lang",
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_kept"), F.sum("doc_id").alias("id_checksum"))
        .orderBy("lang")
    )


@register(
    "encode_target_smoothed",
    oracle="""
    WITH g AS (SELECT AVG(n_chars) AS gmean FROM documents),
    per AS (
        SELECT lang, COUNT(*) AS n, SUM(n_chars)::DOUBLE AS sy
        FROM documents GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n,
           FLOOR((sy + 10.0 * g.gmean) / (n + 10.0) * 10000) / 10000
               AS enc_smoothed
    FROM per CROSS JOIN g
    ORDER BY lang
    """,
)
def encode_target_smoothed(spark, sf_dir):
    """Smoothed target encoding (functions.ml.target_encode): per-lang
    mean of n_chars shrunk toward the global mean with m=10 — the
    high-cardinality categorical feature that memorizes signal, not
    noise. One groupBy plus a broadcast 1-row global aggregate; the
    FLOOR grid absorbs summation-order ulps."""
    from blazingsql_spark.functions.ml import target_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = target_encode(docs, "lang", "n_chars", smoothing=10.0)
    return enc.select(
        "lang",
        "n",
        (F.floor(F.col("enc") * 10000) / 10000).alias("enc_smoothed"),
    ).orderBy("lang")


@register(
    "sample_temperature_mix",
    oracle="""
    WITH per AS (
        SELECT lang, COUNT(*) AS n FROM documents
        WHERE lang IS NOT NULL GROUP BY lang
    ),
    tot AS (SELECT SUM(n)::DOUBLE AS total FROM per),
    p AS (
        SELECT lang, n, POWER(n / tot.total, 0.3) AS pa
        FROM per CROSS JOIN tot
    ),
    z AS (SELECT SUM(pa) AS z FROM p)
    SELECT lang, CAST(n AS BIGINT) AS n,
           FLOOR(pa / z.z * 1000000) / 1000000 AS weight
    FROM p CROSS JOIN z
    ORDER BY lang
    """,
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture weights (functions.sampling
    .temperature_weights, the XLM-R/mT5 multilingual sampling rule):
    w_d = p_d^0.3 / sum p^0.3, upsampling tail languages. The corpus is
    scanned once to the |domains| grain; the rest is dictionary-sized."""
    from blazingsql_spark.functions.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    w = temperature_weights(docs, "lang", alpha=0.3)
    return w.select(
        "lang",
        "n",
        (F.floor(F.col("weight") * 1000000) / 1000000).alias("weight"),
    ).orderBy("lang")


@register(
    "multimodal_audio_fp",
    oracle="""
    WITH auds AS (
        SELECT doc_id AS aud_id, doc_id AS base, FALSE AS variant
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id + 100000, doc_id, TRUE
        FROM documents WHERE doc_id % 10 = 0
    ),
    e AS (
        SELECT aud_id, f.f,
               SUM(POWER((base*13 + 7*(f.f*64 + t.t)) % 2003 - 1001
                         + CASE WHEN variant AND f.f = 0 AND t.t = 0
                                THEN 500 ELSE 0 END, 2)) AS energy
        FROM auds,
             LATERAL (SELECT UNNEST(range(0, 32)) AS f) f,
             LATERAL (SELECT UNNEST(range(0, 64)) AS t) t
        GROUP BY aud_id, f.f
    ),
    bits AS (
        SELECT aud_id, f,
               CASE WHEN LEAD(energy) OVER (PARTITION BY aud_id ORDER BY f)
                         > energy THEN '1' ELSE '0' END AS bit
        FROM e
    )
    SELECT aud_id, STRING_AGG(bit, '' ORDER BY f) AS afp
    FROM bits WHERE f < 31 GROUP BY aud_id ORDER BY aud_id
    """,
)
def multimodal_audio_fp(spark, sf_dir):
    """Audio fingerprinting through the REAL codec path (the WAV twin of
    multimodal_dhash): deterministic int16 PCM clips are generated per
    doc (2048 samples, one planted variant per tenth doc with a single
    bumped sample), encoded with the stdlib-wave encoder, decoded back
    and envelope-hashed (functions.media_codec.audio_envelope_hash via
    multimodal.audio_fingerprints). Frame energies are exact integers,
    so the oracle re-derives EVERY BIT from first-principles arithmetic
    — encode, decode, int16 recovery and hash must all be exact. The
    planted one-sample variant hashes IDENTICALLY (energy envelopes are
    robust to sub-frame perturbation), which is the property that makes
    the fingerprint a near-dup group key."""
    import numpy as np
    import pandas as pd

    from blazingsql_spark.functions.media_codec import encode_wav
    from blazingsql_spark.functions.multimodal import audio_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    auds = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("aud_id"),
            F.col("doc_id").alias("base"),
            F.lit(False).alias("variant"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("aud_id"),
                F.col("doc_id").alias("base"),
                F.lit(True).alias("variant"),
            )
        )
    )

    @F.pandas_udf("binary")
    def make_wav(bases, variants):
        out = []
        t = np.arange(2048)
        for b, v in zip(bases, variants):
            s = ((int(b) * 13 + 7 * t) % 2003) - 1001
            if v:
                s = s.copy()
                s[0] += 500
            out.append(encode_wav(8000, s))
        return pd.Series(out)

    payloads = auds.withColumn("payload", make_wav("base", "variant"))
    return (
        audio_fingerprints(payloads, "payload")
        .select("aud_id", "afp")
        .orderBy("aud_id")
    )


@register(
    "events_holt_forecast",
    oracle="""
    WITH daily AS (
        SELECT user_id, DATE_TRUNC('day', ts) AS day, COUNT(*)::DOUBLE AS y
        FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
    ),
    series AS (
        SELECT user_id, list(y ORDER BY day) AS ys
        FROM daily GROUP BY user_id HAVING COUNT(*) >= 2
    ),
    folded AS (
        SELECT user_id, LEN(ys) AS n_obs,
               list_reduce(
                   list_prepend(
                       [ys[1], ys[2] - ys[1]],
                       list_transform(ys[2:], y -> [y, 0.0::DOUBLE])
                   ),
                   (acc, x) -> [
                       0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                       0.3 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                           + 0.7 * acc[2]
                   ]
               ) AS st
        FROM series
    )
    SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
           FLOOR(st[1] * 1000000) / 1000000 AS level,
           FLOOR(st[2] * 1000000) / 1000000 AS trend,
           FLOOR((st[1] + 3.0 * st[2]) * 1000000) / 1000000 AS forecast
    FROM folded ORDER BY user_id
    """,
)
def events_holt_forecast(spark, sf_dir):
    """Per-user Holt linear-trend forecasting (operators.stats
    .holt_linear) over daily event counts — level+trend exponential
    smoothing with a 3-step-ahead forecast, the next tier above the EWMA
    row. The recursion is ONE expression fold over each user's ordered
    daily series (counts are exact integers, so both engines fold
    identical doubles through the identical inlined expression tree);
    the FLOOR grid absorbs nothing but display — the fold itself is
    bit-deterministic."""
    from blazingsql_spark.operators.stats import holt_linear

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = holt_linear(
        daily, ["user_id"], "day", "y", alpha=0.5, beta=0.3, horizon=3
    )
    return out.select(
        "user_id",
        "n_obs",
        (F.floor(F.col("level") * 1000000) / 1000000).alias("level"),
        (F.floor(F.col("trend") * 1000000) / 1000000).alias("trend"),
        (F.floor(F.col("forecast") * 1000000) / 1000000).alias("forecast"),
    ).orderBy("user_id")


@register(
    "multimodal_dhash_dedup",
    oracle="""
    WITH imgs AS (
        SELECT doc_id AS img_id, doc_id AS base, FALSE AS variant
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id + 100000, doc_id, TRUE
        FROM documents WHERE doc_id % 10 = 0
    ),
    bits AS (
        SELECT img_id, y.y, x.x,
            CASE WHEN
                (CASE WHEN variant AND (2*y.y) = 0 AND (((x.x+1)*24)//9) = 0
                      THEN (('0x' || SUBSTRING(MD5(base::VARCHAR || ':0:0'), 1, 2))::INT + 128) % 256
                      ELSE ('0x' || SUBSTRING(MD5(base::VARCHAR || ':' || (2*y.y)::VARCHAR
                                              || ':' || (((x.x+1)*24)//9)::VARCHAR), 1, 2))::INT END)
                >
                (CASE WHEN variant AND (2*y.y) = 0 AND ((x.x*24)//9) = 0
                      THEN (('0x' || SUBSTRING(MD5(base::VARCHAR || ':0:0'), 1, 2))::INT + 128) % 256
                      ELSE ('0x' || SUBSTRING(MD5(base::VARCHAR || ':' || (2*y.y)::VARCHAR
                                              || ':' || ((x.x*24)//9)::VARCHAR), 1, 2))::INT END)
            THEN '1' ELSE '0' END AS bit
        FROM imgs,
             LATERAL (SELECT UNNEST(range(0, 8)) AS y) y,
             LATERAL (SELECT UNNEST(range(0, 8)) AS x) x
    ),
    sigs AS (SELECT img_id, STRING_AGG(bit, '' ORDER BY y, x) AS dhash
             FROM bits GROUP BY img_id),
    banded AS (
        SELECT img_id, b.b AS band, SUBSTRING(dhash, b.b*16 + 1, 16) AS bh
        FROM sigs, LATERAL (SELECT UNNEST(range(0, 4)) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.img_id AS id_a, c.img_id AS id_b
        FROM banded a JOIN banded c
          ON a.band = c.band AND a.bh = c.bh AND a.img_id < c.img_id
    )
    SELECT id_a, id_b,
           CAST(LEN(list_filter(range(1, 65),
                i -> SUBSTRING(sa.dhash, i, 1) <> SUBSTRING(sb.dhash, i, 1)))
                AS BIGINT) AS hamming
    FROM cand
    JOIN sigs sa ON sa.img_id = cand.id_a
    JOIN sigs sb ON sb.img_id = cand.id_b
    WHERE LEN(list_filter(range(1, 65),
          i -> SUBSTRING(sa.dhash, i, 1) <> SUBSTRING(sb.dhash, i, 1))) <= 3
    ORDER BY id_a, id_b
    """,
)
def multimodal_dhash_dedup(spark, sf_dir):
    """Image near-dup DEDUP end to end (the pipeline multimodal_dhash's
    hash feeds): md5-derived pseudo-random pixels (high-entropy — smooth
    gradients collapse 3000 images onto 99 hashes and band-bucket joins
    explode; measured before choosing this fixture) go through the REAL
    PNG encode→decode→NN-resize→dHash path, then
    functions.dedup.bitstring_candidate_pairs bands the 64-bit hashes
    4×16 (pigeonhole-lossless for hamming<=3) and verifies exact hamming
    on candidates only. Output = the verified near-dup pairs: every
    planted one-pixel variant at hamming<=1; random accidental band
    collisions die at the verify stage. The oracle re-derives the hashes
    arithmetically and replays band+verify in SQL."""
    import hashlib

    import numpy as np
    import pandas as pd

    from blazingsql_spark.functions.dedup import bitstring_candidate_pairs
    from blazingsql_spark.functions.media_codec import encode_png
    from blazingsql_spark.functions.multimodal import dhash_images

    docs = load_table(spark, sf_dir, "documents")
    imgs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("img_id"),
            F.col("doc_id").alias("base"),
            F.lit(False).alias("variant"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("img_id"),
                F.col("doc_id").alias("base"),
                F.lit(True).alias("variant"),
            )
        )
    )

    @F.pandas_udf("binary")
    def make_png(bases, variants):
        out = []
        for b, v in zip(bases, variants):
            b = int(b)
            pix = np.empty((16, 24), dtype=np.uint8)
            for y in range(16):
                for x in range(24):
                    pix[y, x] = int(
                        hashlib.md5(f"{b}:{y}:{x}".encode()).hexdigest()[:2], 16
                    )
            if v:
                pix[0, 0] = (int(pix[0, 0]) + 128) % 256
            out.append(encode_png(pix))
        return pd.Series(out)

    hashed = dhash_images(
        imgs.withColumn("payload", make_png("base", "variant")), "payload"
    )
    return bitstring_candidate_pairs(
        hashed, "dhash", "img_id", bands=4, max_hamming=3
    ).orderBy("id_a", "id_b")


@register(
    "ml_auc_eval",
    oracle=r"""
    WITH data AS (
        SELECT LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                               x -> x <> '')) AS s,
               CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    per AS (SELECT s, COUNT(*) AS n, SUM(y) AS np FROM data GROUP BY s),
    r AS (SELECT s, n, np, SUM(n) OVER (ORDER BY s) AS cum_n FROM per)
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg,
           FLOOR((SUM((cum_n - n + 1 + (n - 1) / 2.0) * np)
                  - SUM(np) * (SUM(np) + 1) / 2.0)
                 / (SUM(np) * (SUM(n) - SUM(np))) * 1000000) / 1000000 AS auc
    FROM r
    """,
)
def ml_auc_eval(spark, sf_dir):
    """Exact ROC AUC at corpus scale (functions.ml.auc_score): the
    Mann-Whitney rank-sum identity with average-rank tie correction —
    never the O(n^2) pairwise definition. The prefix sum over the
    distinct-score table runs DISTRIBUTED via
    operators.window.global_running (no single-partition window even
    with continuous scores); rank sums are exact integers/halves, so
    the oracle's independent windowed spelling agrees to the FLOOR
    grid. Scored here: whitespace token count predicting the long-doc
    label — the evaluation companion to ml_logistic_quality's trainer."""
    from blazingsql_spark.functions.ml import auc_score

    docs = load_table(spark, sf_dir, "documents")
    data = docs.select(
        F.size(
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')")
        ).alias("s"),
        (F.col("n_chars") > 300).cast("int").alias("y"),
    )
    out = auc_score(data, "s", "y")
    return out.select(
        "n_pos",
        "n_neg",
        (F.floor(F.col("auc") * 1000000) / 1000000).alias("auc"),
    )


@register(
    "multimodal_dhash",
    oracle="""
    WITH imgs AS (
        SELECT doc_id AS img_id, doc_id AS base, FALSE AS variant
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id + 100000, doc_id, TRUE
        FROM documents WHERE doc_id % 10 = 0
    ),
    bits AS (
        SELECT img_id, y.y, x.x,
            CASE WHEN
                (CASE WHEN variant AND (2*y.y) = 0 AND (((x.x+1)*24)//9) = 0
                      THEN (base*7 + 128) % 256
                      ELSE (base*7 + 3*(((x.x+1)*24)//9) + 11*(2*y.y)) % 256 END)
                >
                (CASE WHEN variant AND (2*y.y) = 0 AND ((x.x*24)//9) = 0
                      THEN (base*7 + 128) % 256
                      ELSE (base*7 + 3*((x.x*24)//9) + 11*(2*y.y)) % 256 END)
            THEN '1' ELSE '0' END AS bit
        FROM imgs,
             LATERAL (SELECT UNNEST(range(0, 8)) AS y) y,
             LATERAL (SELECT UNNEST(range(0, 8)) AS x) x
    )
    SELECT img_id, STRING_AGG(bit, '' ORDER BY y, x) AS dhash
    FROM bits GROUP BY img_id ORDER BY img_id
    """,
)
def multimodal_dhash(spark, sf_dir):
    """Perceptual image hashing through the REAL codec path: deterministic
    grayscale PNGs are generated per doc (gradient pattern, one planted
    near-identical variant per tenth doc — a single bumped pixel),
    encoded with the zero-dependency PNG encoder, decoded back, NN-resized
    and dHashed (functions.media_codec.dhash_image via
    multimodal.dhash_images). The oracle re-derives EVERY BIT of every
    hash from first-principles integer arithmetic — so encode, decode,
    resize and hash must all be exact for the row to pass. The planted
    variant lands at hamming distance 1 from its base (asserted in
    pytest), which is what makes dHash the image near-dup candidate key."""
    import numpy as np
    import pandas as pd

    from blazingsql_spark.functions.media_codec import encode_png
    from blazingsql_spark.functions.multimodal import dhash_images

    docs = load_table(spark, sf_dir, "documents")
    imgs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("img_id"),
            F.col("doc_id").alias("base"),
            F.lit(False).alias("variant"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("img_id"),
                F.col("doc_id").alias("base"),
                F.lit(True).alias("variant"),
            )
        )
    )

    @F.pandas_udf("binary")
    def make_png(bases, variants):
        out = []
        for b, v in zip(bases, variants):
            b = int(b)
            pix = np.fromfunction(
                lambda y, x: (b * 7 + 3 * x + 11 * y) % 256, (16, 24)
            ).astype(np.uint8)
            if v:
                pix[0, 0] = (int(pix[0, 0]) + 128) % 256
            out.append(encode_png(pix))
        return pd.Series(out)

    payloads = imgs.withColumn("payload", make_png("base", "variant"))
    return (
        dhash_images(payloads, "payload")
        .select("img_id", "dhash")
        .orderBy("img_id")
    )


@register(
    "dedup_entity_resolution",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT UNNEST(list_filter(
            string_split_regex(LOWER(TRIM(text)), '\s+'), x -> x <> '')) AS name
        FROM documents
    ),
    base AS (SELECT name, ROW_NUMBER() OVER (ORDER BY name) AS rid FROM toks),
    nv AS (SELECT COUNT(*) AS n FROM base),
    records AS (
        -- variant offsets stride by the LIVE vocabulary size: fixed
        -- +1000/+2000 offsets would collide with base rids once the
        -- vocabulary reaches 1000 (latent on the 31-token fixture)
        SELECT rid, name FROM base
        UNION ALL SELECT rid + (SELECT n FROM nv), name || 'x' FROM base
        UNION ALL SELECT rid + 2 * (SELECT n FROM nv), name || 'xx' FROM base
    ),
    e AS (
        SELECT a.rid AS a, b.rid AS b
        FROM records a JOIN records b
          ON a.rid < b.rid AND LEVENSHTEIN(a.name, b.name) <= 1
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node, node AS lab FROM nodes
        UNION
        SELECT s.b AS node, r.lab FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS cid FROM reach GROUP BY node),
    labeled AS (
        SELECT r.rid, r.name, COALESCE(c.cid, r.rid) AS entity_id
        FROM records r LEFT JOIN comp c ON c.node = r.rid
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(rid) AS BIGINT) AS member_checksum,
           MIN(name) AS canonical_name
    FROM labeled GROUP BY entity_id ORDER BY entity_id
    """,
)
def dedup_entity_resolution(spark, sf_dir):
    """Entity resolution end-to-end (the classic data-cleaning pipeline):
    deletion-neighborhood fuzzy blocking (operators.fuzzy.fuzzy_join)
    generates candidate matches, exact edit distance verifies them, and
    connected components (operators.graph) collapses matches into
    canonical entities TRANSITIVELY — the demo plants two variant
    generations per record (name+x, name+xx), so original and
    grandchild share no edge and only the closure merges them. Proves
    the fuzzy-join and components operators compose; the oracle replays
    blocking-free (all-pairs levenshtein + recursive CTE), so blocking
    must lose nothing."""
    from pyspark.sql.window import Window as W

    from blazingsql_spark.operators.fuzzy import fuzzy_join
    from blazingsql_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')")
        ).alias("name")
    ).distinct()
    # bounded no-partition window: the distinct-token dictionary
    base = toks.withColumn("rid", F.row_number().over(W.orderBy("name")))
    # variant offsets stride by the live vocabulary size (fixed +1000
    # offsets would collide with base rids at >=1000 distinct tokens)
    n_vocab = base.count()
    records = (
        base.select("rid", "name")
        .unionByName(
            base.select((F.col("rid") + n_vocab).alias("rid"),
                        F.concat("name", F.lit("x")).alias("name"))
        )
        .unionByName(
            base.select((F.col("rid") + 2 * n_vocab).alias("rid"),
                        F.concat("name", F.lit("xx")).alias("name"))
        )
    )
    a = records.select(F.col("rid").alias("a_rid"), F.col("name").alias("a_name"))
    b = records.select(F.col("rid").alias("b_rid"), F.col("name").alias("b_name"))
    edges = (
        fuzzy_join(a, b, "a_name", "b_name")
        .filter(F.col("a_rid") < F.col("b_rid"))
        .select(F.col("a_rid").alias("src"), F.col("b_rid").alias("dst"))
    )
    comp = connected_components(edges)
    labeled = records.join(
        comp, records["rid"] == comp["node"], "left"
    ).select(
        "rid", "name", F.coalesce("component_id", "rid").alias("entity_id")
    )
    return (
        labeled.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("rid").cast("long").alias("member_checksum"),
            F.min("name").alias("canonical_name"),
        )
        .orderBy("entity_id")
    )


@register(
    "vocab_wordpiece_first",
    oracle=r"""
    WITH toks AS (
        SELECT UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY w),
    chars AS (
        SELECT w, f, g.i AS i,
               CASE WHEN g.i = 1 THEN SUBSTRING(w, 1, 1)
                    ELSE '##' || SUBSTRING(w, g.i, 1) END AS sym
        FROM wf, LATERAL (SELECT UNNEST(generate_series(1, LEN(w))) AS i) g
    ),
    symc AS (SELECT sym, SUM(f) AS c FROM chars GROUP BY sym),
    pairs AS (
        SELECT a.sym AS sa, b.sym AS sb, SUM(a.f) AS cab
        FROM chars a JOIN chars b ON a.w = b.w AND b.i = a.i + 1
        GROUP BY a.sym, b.sym
    ),
    scored AS (
        SELECT p.sa, p.sb, p.cab, ca.c AS c_a, cb.c AS c_b,
               p.cab::DOUBLE / (ca.c * cb.c) AS score
        FROM pairs p
        JOIN symc ca ON ca.sym = p.sa
        JOIN symc cb ON cb.sym = p.sb
    )
    SELECT sa AS a, sb AS b,
           CAST(cab AS BIGINT) AS pair_count,
           CAST(c_a AS BIGINT) AS a_count,
           CAST(c_b AS BIGINT) AS b_count,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wf) AS n_words
    FROM scored ORDER BY score DESC, sa, sb LIMIT 1
    """,
)
def vocab_wordpiece_first(spark, sf_dir):
    """WordPiece training criterion, distributed (functions.text
    .train_wordpiece): the first merge selection — argmax of
    score(a,b) = count(ab)/(count(a)·count(b)) over ##-marked symbol
    pairs — computed entirely in Spark aggregates over the word-frequency
    table, the same discipline as vocab_bpe_pairs (oracle the
    distributed step; the full merge LOOP is differential-tested against
    the driver implementation in pytest). Scores divide identical
    integers in IEEE doubles on both engines, so the argmax and its
    (a, b) tie-break agree exactly."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')")
        ).alias("w")
    )
    wf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    chars = wf.select(
        "w",
        "f",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(w)), i -> "
                "CASE WHEN i = 1 THEN substring(w, 1, 1) "
                "ELSE concat('##', substring(w, i, 1)) END)"
            )
        ).alias("i", "sym"),
    )
    symc = chars.groupBy("sym").agg(F.sum("f").alias("c"))
    win = W.partitionBy("w").orderBy("i")
    adj = chars.withColumn("sb", F.lead("sym").over(win)).filter(
        F.col("sb").isNotNull()
    )
    pairs = adj.groupBy(F.col("sym").alias("sa"), "sb").agg(
        F.sum("f").alias("cab")
    )
    scored = (
        pairs.join(symc.select(F.col("sym").alias("sa"), F.col("c").alias("c_a")), "sa")
        .join(symc.select(F.col("sym").alias("sb"), F.col("c").alias("c_b")), "sb")
        .withColumn("score", F.col("cab").cast("double") / (F.col("c_a") * F.col("c_b")))
    )
    n_words = wf.agg(F.count(F.lit(1)).cast("long").alias("n_words"))
    return (
        scored.orderBy(F.desc("score"), F.asc("sa"), F.asc("sb"))
        .limit(1)
        .crossJoin(F.broadcast(n_words))
        .select(
            F.col("sa").alias("a"),
            F.col("sb").alias("b"),
            F.col("cab").cast("long").alias("pair_count"),
            F.col("c_a").cast("long").alias("a_count"),
            F.col("c_b").cast("long").alias("b_count"),
            "n_words",
        )
    )


# Blocklist/taxonomy probe phrases for the Aho-Corasick tagging row: all
# present at every fixture SF (verified), multi-token, including one that
# can self-overlap ("batch batch" matches twice in "batch batch batch").
_TAG_PHRASES = ("table scan", "batch batch", "hash join", "stream spark")


def _phrase_hit_sql(phrase: str) -> str:
    toks = phrase.split()
    cond = " AND ".join(
        f"toks[g.i + {j}] = '{t}'" for j, t in enumerate(toks)
    )
    return f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END)"


_TAG_HITS = ",\n           ".join(
    f"{_phrase_hit_sql(p)} AS h{i}" for i, p in enumerate(_TAG_PHRASES)
)
_TAG_TOTAL = " + ".join(f"h{i}" for i in range(len(_TAG_PHRASES)))
_TAG_DISTINCT = " + ".join(
    f"CASE WHEN h{i} > 0 THEN 1 ELSE 0 END" for i in range(len(_TAG_PHRASES))
)


@register(
    "text_phrase_tags",
    oracle=rf"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    hits AS (
        SELECT doc_id,
           {_TAG_HITS}
        FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(toks))) AS i) g
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({_TAG_TOTAL} AS BIGINT) AS n_hits,
           CAST({_TAG_DISTINCT} AS BIGINT) AS n_phrases
    FROM hits ORDER BY doc_id
    """,
)
def text_phrase_tags(spark, sf_dir):
    """Multi-phrase blocklist/taxonomy tagging (functions.text
    .tag_phrases): a token-level Aho-Corasick automaton built once on the
    driver and applied in one Arrow-batched map — O(doc tokens) matching
    regardless of dictionary size, the scalable form of phrase blocklist
    filtering (m regexp passes cost O(m * tokens)). Counts every
    occurrence including self-overlaps; the oracle re-derives the counts
    positionally in SQL."""
    from blazingsql_spark.functions.text import tag_phrases

    docs = load_table(spark, sf_dir, "documents")
    tagged = tag_phrases(docs, list(_TAG_PHRASES))
    return tagged.select(
        "doc_id",
        F.aggregate(
            F.map_values("phrase_hits"), F.lit(0), lambda a, x: a + x
        )
        .cast("long")
        .alias("n_hits"),
        F.size("phrase_hits").cast("long").alias("n_phrases"),
    ).orderBy("doc_id")


@register(
    "sketch_cms_counts",
    oracle=r"""
    WITH toks AS (
        SELECT UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS est_ge_exact, TRUE AS within_eps
    FROM toks WHERE token IN ('hash', 'spark', 'vector')
    GROUP BY token ORDER BY token
    """,
)
def sketch_cms_counts(spark, sf_dir):
    """Mergeable count-min sketch (functions.sketches.cms_sketch): token
    frequencies sketched per partition into a 4x1024 counter matrix and
    merged by element-wise sum — the point-query companion to the HLL
    rollup (store one tiny sketch per shard/day, answer 'how often does
    this token appear' over any range without rescanning). CMS never
    undercounts, so est >= exact is a hard invariant; the eps bound
    (est <= exact + 2e*N/width) is checked against the seed-fixed,
    deterministic sketch. The exact probe counts ARE SQL-comparable and
    anchor the row to real values."""
    import math

    from blazingsql_spark.functions.sketches import cms_estimate, cms_sketch

    probes = ["hash", "spark", "vector"]
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')")
        ).alias("token")
    )
    sketch = cms_sketch(toks, "token", width=1024, depth=4)
    est = cms_estimate(sketch, probes, width=1024, depth=4)
    stats = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    exact = {
        r["token"]: int(r["n"])
        for r in stats.filter(F.col("token").isin(probes)).collect()
    }
    n_total = int(toks.count())
    bound = 2.0 * math.e * n_total / 1024.0
    rows = [
        (
            t,
            exact[t],
            bool(est[t] >= exact[t]),
            bool(est[t] <= exact[t] + bound),
        )
        for t in sorted(exact)
    ]
    return spark.createDataFrame(
        rows,
        "token string, exact_n long, est_ge_exact boolean, within_eps boolean",
    )


@register(
    "encode_categorical",
    oracle="""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents
        WHERE lang IS NOT NULL GROUP BY lang
    ),
    m AS (
        SELECT lang, ROW_NUMBER() OVER (ORDER BY n DESC, lang) - 1 AS cat_id, n
        FROM counts
    )
    SELECT m.lang, CAST(m.cat_id AS BIGINT) AS cat_id,
           CAST(m.n AS BIGINT) AS n,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum
    FROM documents d JOIN m USING (lang)
    GROUP BY m.lang, m.cat_id, m.n
    ORDER BY cat_id
    """,
)
def encode_categorical(spark, sf_dir):
    """Frequency-ordered categorical encoding (functions.ml
    .categorical_fit/categorical_transform — the StringIndexer shape):
    dense ids by count desc then value asc, applied back to the corpus by
    a broadcast dictionary join; the per-category doc_id checksum proves
    the transform routed every row to the right id. The only window runs
    over the distinct-value dictionary, never the corpus."""
    from blazingsql_spark.functions.ml import categorical_fit, categorical_transform

    docs = load_table(spark, sf_dir, "documents")
    mapping = categorical_fit(docs, "lang")
    encoded = categorical_transform(docs, mapping, "lang")
    return (
        encoded.groupBy("lang", "cat_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("cat_id")
    )


@register(
    "emb_pca_project",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT) AS out_dim,
           TRUE AS orthonormal,
           TRUE AS eigs_monotone,
           TRUE AS variance_identity,
           TRUE AS evr_positive
    FROM embeddings
    """,
)
def emb_pca_project(spark, sf_dir):
    """PCA dimensionality reduction for the embedding pipeline
    (functions.ml.pca_fit/pca_transform): fit the top-8 subspace via
    per-partition mergeable moment sketches (one corpus scan, driver-side
    64x64 eigendecomposition), project every vector Arrow-batched, then
    verify the model's mathematical invariants IN-ENGINE — components
    orthonormal, eigenvalues monotone, and the exact PCA variance
    identity: mean squared residual of the reconstruction equals the
    discarded variance (trace(cov) - sum of kept eigenvalues), computed
    as a distributed aggregate over the projected corpus. Like the ANN
    recall rows, the oracle pins the invariant booleans plus the exact
    vector count (eigvectors themselves are not SQL-expressible)."""
    import numpy as np

    from blazingsql_spark.functions.ml import pca_fit, pca_transform

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, k=8)
    comps = np.asarray(model["components"])
    mean = np.asarray(model["mean"])
    gram = comps @ comps.T
    orthonormal = bool(np.max(np.abs(gram - np.eye(len(comps)))) < 1e-6)
    vals = model["eigvals"]
    eigs_monotone = all(vals[i] >= vals[i + 1] - 1e-12 for i in range(len(vals) - 1))
    explained = float(sum(vals))
    total = model["total_var"]

    @F.pandas_udf("double")
    def resid(vecs, projs):
        import pandas as pd

        x = np.asarray(vecs.tolist(), dtype=np.float64)
        p = np.asarray(projs.tolist(), dtype=np.float64)
        err = x - mean - p @ comps
        return pd.Series((err * err).sum(axis=1))

    proj = pca_transform(emb, model)
    resid_mean = proj.select(
        F.avg(resid(F.col("embedding"), F.col("proj"))).alias("m")
    ).first()["m"]
    variance_identity = bool(
        abs(resid_mean - (total - explained)) <= 1e-5 * max(total, 1.0)
    )
    evr_positive = bool(0.0 < explained / total <= 1.0 + 1e-9)
    return spark.createDataFrame(
        [
            (
                model["n"],
                len(comps),
                orthonormal,
                eigs_monotone,
                variance_identity,
                evr_positive,
            )
        ],
        "n_vectors long, out_dim long, orthonormal boolean, "
        "eigs_monotone boolean, variance_identity boolean, evr_positive boolean",
    )


@register(
    "emb_label_centroids",
    oracle="""
    WITH e AS (
        SELECT label, UNNEST(embedding::DOUBLE[]) AS x,
               UNNEST(generate_series(1, LEN(embedding))) AS pos
        FROM embeddings
    ),
    m AS (SELECT label, pos,
                 CAST(ROUND(ROUND(AVG(x), 6) * 1000000) AS BIGINT) AS x
          FROM e GROUP BY label, pos)
    SELECT label, ARRAY_TO_STRING(ARRAY_AGG(x ORDER BY pos), ',') AS centroid_q6
    FROM m GROUP BY label ORDER BY label
    """,
)
def emb_label_centroids(spark, sf_dir):
    """Per-label mean embedding (functions.similarity.label_centroids):
    class prototypes via ONE groupBy of 64 parallel avg() aggregates —
    map-side partial aggregation, shuffle carries ≤|labels| rows per
    partition. The compared projection serializes the centroid on a
    micro-unit integer grid (round(x,6)*1e6 joined with ',') because the
    driver's canonicalizer cannot sort/hash list cells and raw
    double->string rendering differs across engines; the array logic
    itself stays under test (label_centroids returns arrays)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.label_centroids(emb)
    return cent.select(
        "label",
        F.array_join(
            F.transform(
                "centroid",
                lambda x: F.round(x * 1000000).cast("long").cast("string"),
            ),
            ",",
        ).alias("centroid_q6"),
    ).orderBy("label")


@register(
    "knn_classify",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id % 100 = 0
    ),
    scored AS (
        SELECT q.query_id, e.vec_id, e.label, {_COSINE_ORACLE} AS cosine_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id) AS rnk
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM ranked WHERE rnk <= 5 GROUP BY query_id, label
    )
    SELECT query_id, label AS predicted_label, n_votes
    FROM (
        SELECT query_id, label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS rn
        FROM votes
    ) v WHERE rn = 1
    ORDER BY query_id
    """,
)
def knn_classify(spark, sf_dir):
    """k-NN majority-vote classification (functions.similarity
    .knn_classify): modal label of the 5 nearest neighbors (self excluded),
    ties toward the smaller label. Broadcast-scored corpus scan + per-query
    vote aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_classify(emb, queries, k=5).orderBy("query_id")


@register(
    "text_boilerplate",
    oracle="""
    WITH corpus AS (
        SELECT doc_id,
               text || chr(10) ||
               CASE WHEN doc_id % 2 = 0 THEN 'copyright footer all rights reserved'
                    ELSE 'unique line ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
               CASE WHEN doc_id % 5 = 0 THEN 'subscribe to our newsletter'
                    ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
        FROM documents
    ),
    lines AS (
        SELECT doc_id, pos, line
        FROM corpus CROSS JOIN LATERAL (
            SELECT UNNEST(string_split(text, chr(10))) AS line,
                   UNNEST(generate_series(1, LEN(string_split(text, chr(10))))) AS pos
        ) u
    ),
    boiler AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines
            WHERE TRIM(line) <> '' GROUP BY line
        ) t WHERE df >= 3
    )
    SELECT doc_id, STRING_AGG(line, chr(10) ORDER BY pos) AS text
    FROM lines
    WHERE line NOT IN (SELECT line FROM boiler)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_boilerplate(spark, sf_dir):
    """CCNet-style line-level boilerplate removal (functions.text
    .remove_boilerplate_lines): lines appearing in >=3 documents are
    dropped, documents reassembled in line order. The fixture docs are
    single-line, so the query synthesizes a multi-line corpus inside the
    query (planted footers on doc_id%2/doc_id%5) — both engines build the
    same corpus, the removal behavior itself is what's compared."""
    from blazingsql_spark.functions.text import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("copyright footer all rights reserved"),
            ).otherwise(F.concat(F.lit("unique line "), F.col("doc_id"))),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("subscribe to our newsletter")
            ).otherwise(F.concat(F.lit("tail "), F.col("doc_id"))),
        ).alias("text"),
    )
    return remove_boilerplate_lines(corpus, min_df=3).orderBy("doc_id")


@register(
    "multimodal_frames",
    oracle="""
    SELECT doc_id, f.frame_idx,
           CAST(f.frame_idx AS DOUBLE) / 4 AS offset_pct
    FROM documents
    CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS frame_idx) f
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frames(spark, sf_dir):
    """Video frame-sampling plan (functions.multimodal.frame_sample_plan):
    the (id, frame_idx, offset_pct) explosion is emitted JVM-side BEFORE
    any decoder runs, so each Python task's working set is one frame, not
    one video — the Spark-side plumbing the stubbed decoder seeks by."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.frame_sample_plan(docs, n_frames=4).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_mp4_frames",
    oracle="""
    SELECT doc_id,
           CAST(16 + (doc_id % 16) * 8 AS INT)  AS width,
           CAST(16 + (doc_id % 9) * 8 AS INT)   AS height,
           CAST(40 * (1 + doc_id % 4) AS BIGINT) AS duration_ms,
           CAST(0 AS INT)                        AS frame_idx,
           SHA256(text)                          AS frame_sha
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_mp4_frames(spark, sf_dir):
    """REAL MP4 round trip, keyframe extraction included: each document is
    muxed into a valid ISO-BMFF file (functions.media_mp4.encode_mp4 —
    sample payload = the document's UTF-8 bytes, dimensions/duration
    derived from doc_id), then the container is parsed BACK through the
    public ops — derive_media_meta (box walk → typed width/height/
    duration) and extract_frames (stts/stsc/stsz/stco resolution → raw
    keyframe bytes out of mdat). The oracle recomputes every field from
    the source columns, so a parser that misreads any sample table
    mismatches. Frame bytes round-trip exactly: sha(frame) == sha(text).

    Plan: two Arrow-batched Python stages over the same synthesized
    payload + one AQE-decided join on doc_id — at corpus scale the join
    keys are the doc ids, never the payload bytes."""
    import pandas as pd

    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    @F.pandas_udf(T.BinaryType())
    def synth_mp4(doc_id: pd.Series, txt: pd.Series) -> pd.Series:
        from blazingsql_spark.functions.media_mp4 import encode_mp4

        out = []
        for i, t in zip(doc_id, txt):
            i = int(i)
            payload = (t or "").encode("utf-8")
            out.append(
                encode_mp4(
                    [payload] * (1 + i % 4),
                    width=16 + (i % 16) * 8,
                    height=16 + (i % 9) * 8,
                    sample_duration=40,
                )
            )
        return pd.Series(out)

    with_payload = docs.withColumn("payload", synth_mp4("doc_id", "text"))
    meta = multimodal.derive_media_meta(with_payload).select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    )
    frames = multimodal.extract_frames(with_payload, n_frames=1).select(
        "doc_id", "frame_idx", F.sha2("frame_bytes", 256).alias("frame_sha")
    )
    return meta.join(frames, "doc_id").orderBy("doc_id")


@register(
    "multimodal_mp3_meta",
    oracle="""
    SELECT doc_id,
           'mp3'                                               AS fmt,
           CAST((1 + doc_id % 50) * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms,
           CAST((1 + doc_id % 50) * 417 AS BIGINT)             AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_mp3_meta(spark, sf_dir):
    """REAL MP3 frame-layer round trip: synthesize a valid CBR stream per
    document (functions.media_mp3.encode_mp3_cbr, frame count derived
    from doc_id), then recover duration through the public
    derive_media_meta path — an actual frame-by-frame header walk
    (ISO 11172-3 bitrate/sample-rate tables), not a length heuristic.
    The oracle recomputes duration and byte length from first principles:
    1152 samples per MPEG1 Layer III frame at 44100 Hz, 417-byte frames
    at 128 kbps. A parser off by one frame or one padding bit mismatches."""
    import pandas as pd

    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf(T.BinaryType())
    def synth_mp3(doc_id: pd.Series) -> pd.Series:
        from blazingsql_spark.functions.media_mp3 import encode_mp3_cbr

        return pd.Series([encode_mp3_cbr(1 + int(i) % 50) for i in doc_id])

    with_payload = docs.withColumn("payload", synth_mp3("doc_id"))
    meta = multimodal.derive_media_meta(with_payload)
    return (
        meta.select(
            "doc_id",
            F.col("media_meta.format").alias("fmt"),
            F.col("media_meta.duration_ms").alias("duration_ms"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_perplexity",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    vocab_full AS (SELECT token, COUNT(*) AS c FROM t2 GROUP BY token),
    vocab AS (SELECT token, c FROM vocab_full WHERE c >= 2),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab_full)
    SELECT t2.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           FLOOR(-SUM(LN((COALESCE(vocab.c, 0) + 1.0) / (tot.n + tot.v)))
                 / COUNT(*) * 10000) / 10000 AS avg_neg_logprob
    FROM t2 LEFT JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY t2.doc_id
    ORDER BY t2.doc_id
    """,
)
def text_perplexity(spark, sf_dir):
    """Unigram-LM quality score (functions.text.unigram_negative_logprob):
    per-doc average negative log-prob under an add-one-smoothed unigram
    model of the corpus (the CCNet perplexity-filter shape, unigram tier).
    Vocab cut by frequency floor (no global sort), broadcast onto the
    token stream; min_count=2 exercises the out-of-vocab smoothing path."""
    from blazingsql_spark.functions.text import unigram_negative_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_negative_logprob(docs, min_count=2).orderBy("doc_id")


@register(
    "text_perplexity_kn",
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    big AS (
        SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
        FROM d, LATERAL (SELECT UNNEST(generate_series(1, LEN(ws) - 1)) AS i) g
        WHERE LEN(ws) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c12 FROM big GROUP BY w1, w2),
    pref AS (SELECT w1, SUM(c12) AS c1dot, COUNT(*)::DOUBLE AS n1p_left
             FROM bc GROUP BY w1),
    cont AS (SELECT w2, COUNT(*)::DOUBLE AS n1p_right FROM bc GROUP BY w2),
    stats AS (SELECT COUNT(*)::DOUBLE AS bcount FROM bc),
    vocab AS (
        SELECT COUNT(DISTINCT t.tok)::DOUBLE AS v
        FROM d, LATERAL (SELECT UNNEST(ws) AS tok) t
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(-SUM(LN(
               (GREATEST(bc.c12 - 0.75, 0)
                + 0.75 * pref.n1p_left
                  * ((cont.n1p_right + 1) / (stats.bcount + vocab.v + 1)))
               / pref.c1dot)) / COUNT(*) * 10000) / 10000 AS avg_neg_logprob
    FROM big b
    JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN pref ON pref.w1 = b.w1
    JOIN cont ON cont.w2 = b.w2
    CROSS JOIN stats CROSS JOIN vocab
    GROUP BY b.doc_id ORDER BY b.doc_id
    """,
)
def text_perplexity_kn(spark, sf_dir):
    """Interpolated Kneser-Ney BIGRAM perplexity
    (functions.text.kn_bigram_negative_logprob) — the serious tier of
    the perplexity quality filter: absolute discounting with the
    distinct-history continuation distribution, so frequent-but-
    predictable bigrams score differently from genuinely novel text.
    Counts are groupBy aggregates over the bigram stream, scoring is
    token-keyed equi-joins back onto it, and the only broadcast is the
    1-row (B, V) scalar frame — text_bm25's accepted corpus-stats
    shape."""
    from blazingsql_spark.functions.text import kn_bigram_negative_logprob

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return kn_bigram_negative_logprob(docs).orderBy("doc_id")


@register(
    "text_perplexity_kn3",
    headline=True,
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    tri AS (
        SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2, ws[g.i + 2] AS w3
        FROM d, LATERAL (SELECT UNNEST(generate_series(1, LEN(ws) - 2)) AS i) g
        WHERE LEN(ws) >= 3
    ),
    tc AS (SELECT w1, w2, w3, COUNT(*)::DOUBLE AS c123
           FROM tri GROUP BY w1, w2, w3),
    pref12 AS (SELECT w1, w2, SUM(c123) AS c12dot,
                      COUNT(*)::DOUBLE AS n1p_12
               FROM tc GROUP BY w1, w2),
    chat AS (SELECT w2, w3, COUNT(*)::DOUBLE AS chat23
             FROM tc GROUP BY w2, w3),
    mid AS (SELECT w2, SUM(chat23) AS chat2dot, COUNT(*)::DOUBLE AS n1p_mid
            FROM chat GROUP BY w2),
    cont3 AS (SELECT w3, COUNT(*)::DOUBLE AS n1p_right FROM chat GROUP BY w3),
    stats AS (SELECT COUNT(*)::DOUBLE AS bhat FROM chat),
    vocab AS (
        SELECT COUNT(DISTINCT t.tok)::DOUBLE AS v
        FROM d, LATERAL (SELECT UNNEST(ws) AS tok) t
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           FLOOR(-SUM(LN(
               (GREATEST(tc.c123 - 0.75, 0)
                + 0.75 * pref12.n1p_12
                  * ((GREATEST(chat.chat23 - 0.75, 0)
                      + 0.75 * mid.n1p_mid
                        * ((cont3.n1p_right + 1) / (stats.bhat + vocab.v + 1)))
                     / mid.chat2dot))
               / pref12.c12dot)) / COUNT(*) * 10000) / 10000 AS avg_neg_logprob
    FROM tri t
    JOIN tc ON tc.w1 = t.w1 AND tc.w2 = t.w2 AND tc.w3 = t.w3
    JOIN pref12 ON pref12.w1 = t.w1 AND pref12.w2 = t.w2
    JOIN chat ON chat.w2 = t.w2 AND chat.w3 = t.w3
    JOIN mid ON mid.w2 = t.w2
    JOIN cont3 ON cont3.w3 = t.w3
    CROSS JOIN stats CROSS JOIN vocab
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def text_perplexity_kn3(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM perplexity
    (functions.text.kn_trigram_negative_logprob): the full Chen & Goodman
    recursion — raw counts at the top order, continuation counts
    ĉ(w2,w3)=N1+(·,w2,w3) at the bigram level, the same +1-floored
    continuation unigram as the bigram tier. All

    counts are groupBy aggregates over the trigram stream; scoring is
    five token-keyed equi-joins back onto it; the only broadcast is the
    1-row (B̂, V) scalar frame."""
    from blazingsql_spark.functions.text import kn_trigram_negative_logprob

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return kn_trigram_negative_logprob(docs).orderBy("doc_id")


@register(
    "dedup_components",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        WHERE doc_id % 7 <> 6
          AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node, node AS lab FROM nodes
        UNION
        SELECT s.b AS node, r.lab FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS component_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_components(spark, sf_dir):
    """Transitive near-dup clustering (operators.graph
    .connected_components): two-phase large-star/small-star contraction
    (O(log n) rounds on any graph shape — survives deep chains that cost
    label propagation O(diameter) rounds). The demo graph chains docs in
    blocks of 7
    (id→id+1 edges within a block) — components only emerge through
    TRANSITIVE closure (endpoints of a chain share no edge), which is
    exactly what pairwise dedup output needs. Oracle: DuckDB recursive
    CTE computing min-reachable-label."""
    from blazingsql_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    edges = (
        docs.filter((F.col("doc_id") % 7 != 6) & (F.col("doc_id") + 1 <= max_id))
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    )
    return (
        connected_components(edges)
        .select(F.col("node").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_canonicalize",
    oracle="""
    WITH RECURSIVE chain AS (
        SELECT doc_id AS a, doc_id + 1 AS b FROM documents
        WHERE doc_id % 7 <> 6
          AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
    ),
    pref AS (
        SELECT MIN(doc_id) OVER (PARTITION BY SUBSTR(text, 1, 40)) AS a,
               doc_id AS b
        FROM documents
    ),
    e AS (
        SELECT a, b FROM chain
        UNION
        SELECT a, b FROM pref WHERE a <> b
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node, node AS lab FROM nodes
        UNION
        SELECT s.b AS node, r.lab FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS component_id FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    WHERE COALESCE(comp.component_id, d.doc_id) = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_canonicalize(spark, sf_dir):
    """End-to-end dedup decision step (operators.graph.canonical_docs):
    near-dup PAIRS → transitive closure → one surviving canonical doc
    (min id) per component. Two edge sources union'd so components
    genuinely merge across sources — block-chain edges (id→id+1 within
    blocks of 7) and shared-40-char-prefix star edges (the fixture has
    real prefix-duplicate groups) — i.e. the survivors are only
    computable through TRANSITIVE closure over a multi-detector graph,
    the exact shape a production dedup pipeline feeds this operator.
    Oracle: DuckDB recursive CTE over the same edge union."""
    from pyspark.sql import Window

    from blazingsql_spark.operators.graph import canonical_docs

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    chain = docs.filter((F.col("doc_id") % 7 != 6) & (F.col("doc_id") + 1 <= max_id)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    w = Window.partitionBy(F.substring("text", 1, 40))
    pref = (
        docs.select("doc_id", F.min("doc_id").over(w).alias("root"))
        .filter(F.col("root") != F.col("doc_id"))
        .select(F.col("root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    survivors = canonical_docs(chain.union(pref), docs)
    return survivors.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@register(
    "sketch_heavy_hitters",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_checked,
           CAST(5 AS BIGINT) AS n_found,
           TRUE AS all_found
    FROM (SELECT 1)
    """,
)
def sketch_heavy_hitters(spark, sf_dir):
    """Space-saving heavy-hitters sketch (functions.sketches
    .space_saving_topk): 64 counters of state per partition over a
    ~450-distinct-key inverse-square (Zipf-like) stream derived from
    l_orderkey — key v has frequency ∝ 1/v², so the true top-5 all sit
    far above the N/capacity survival bound and MUST be present in the
    64-counter summary (presence is the space-saving guarantee; rank by
    overcounted est is not, so the gate checks the full summary). The
    oracle asserts that membership verdict (exact counts depend on
    partitioning, membership does not — the same thresholded-boolean
    pattern as the ANN recall gates). The stream is built by inverse-CDF:
    hash rows to uniform u, key = floor(1/u) → P(key=v) ∝ 1/v² at EVERY
    scale factor (frequency ratios are scale-free, so the top-5 sit
    ~6-30x above the N/capacity bound regardless of row count)."""
    from blazingsql_spark.functions.sketches import space_saving_topk

    li = load_table(spark, sf_dir, "lineitem")
    u = (
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(10000)).cast("double")
        + F.lit(0.5)
    ) / F.lit(10000.0)
    keys = li.select(
        F.least(F.floor(F.lit(1.0) / u), F.lit(1000.0)).cast("long").cast("string").alias("item")
    )
    sk = space_saving_topk(keys, "item", k=64, capacity=64)
    exact5 = (
        keys.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "item")
        .limit(5)
    )
    found = exact5.join(sk.select("item"), "item")
    return found.agg(F.count(F.lit(1)).alias("n_found")).select(
        F.lit(5).cast("long").alias("n_checked"),
        F.col("n_found"),
        (F.col("n_found") == 5).alias("all_found"),
    )


@register(
    "ml_logistic_quality",
    oracle=r"""
    WITH data AS (
        SELECT LEN(string_split_regex(TRIM(text), '\s+')) / 10.0 AS x,
               CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    s1 AS (
        SELECT COUNT(*)::DOUBLE AS n,
               SUM(x * (0.5 - y)) AS gw, SUM(0.5 - y) AS gb,
               0.25 * SUM(x * x) + 0.001 AS h11,
               0.25 * SUM(x) AS h12, 0.25 * COUNT(*) AS h22
        FROM data
    ),
    w1 AS (
        SELECT n,
               0 - ( h22 * gw - h12 * gb) / (h11 * h22 - h12 * h12) AS w,
               0 - (-h12 * gw + h11 * gb) / (h11 * h22 - h12 * h12) AS b
        FROM s1
    ),
    p2 AS (
        SELECT d.x, d.y,
               CASE WHEN w1.w * d.x + w1.b >= 0
                    THEN 1 / (1 + EXP(-(w1.w * d.x + w1.b)))
                    ELSE EXP(w1.w * d.x + w1.b) / (1 + EXP(w1.w * d.x + w1.b))
               END AS p
        FROM data d CROSS JOIN w1
    ),
    s2 AS (
        SELECT SUM(x * (p - y)) AS gw, SUM(p - y) AS gb,
               SUM(x * x * p * (1 - p)) + 0.001 AS h11,
               SUM(x * p * (1 - p)) AS h12, SUM(p * (1 - p)) AS h22
        FROM p2
    )
    SELECT CAST(w1.n AS BIGINT) AS n,
           FLOOR((w1.w - (( s2.h22 * (s2.gw + 0.001 * w1.w) - s2.h12 * s2.gb)
                          / (s2.h11 * s2.h22 - s2.h12 * s2.h12))) * 10000)
               / 10000 AS w_tokens,
           FLOOR((w1.b - ((-s2.h12 * (s2.gw + 0.001 * w1.w) + s2.h11 * s2.gb)
                          / (s2.h11 * s2.h22 - s2.h12 * s2.h12))) * 10000)
               / 10000 AS b_intercept
    FROM w1 CROSS JOIN s2
    """,
)
def ml_logistic_quality(spark, sf_dir):
    """Distributed logistic-regression training (functions.ml
    .logistic_fit, IRLS/Newton): a learned document-quality head fit
    in-engine — feature = whitespace token count / 10, label = long-doc
    indicator. TWO Newton iterations from (0,0) so the oracle can unroll
    the EXACT same training in SQL: iteration 1's moments are closed
    form (p=0.5 — the power-of-two constants make per-row and
    after-sum scaling bit-equal), iteration 2 re-derives the moments
    under iteration 1's weights and applies the closed-form 2x2 solve.
    The FLOOR grid absorbs LAPACK-vs-closed-form ulps. This makes the
    distributed TRAINING LOOP itself oracle-checked, not just a score
    column; the full solver (any d, any iters, nll trace) is
    property-tested in pytest."""
    from blazingsql_spark.functions.ml import logistic_fit

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        (F.size(F.split(F.trim(F.col("text")), r"\s+")) / F.lit(10.0)).alias("x"),
        (F.col("n_chars") > 300).cast("double").alias("y"),
    )
    fit = logistic_fit(feats, ["x"], "y", iters=2, l2=0.001)
    import math

    return spark.createDataFrame(
        [
            (
                fit["n"],
                math.floor(fit["weights"]["x"] * 10000) / 10000,
                math.floor(fit["intercept"] * 10000) / 10000,
            )
        ],
        "n long, w_tokens double, b_intercept double",
    )


@register(
    "ml_linear_probe",
    oracle="""
    SELECT ROUND(REGR_SLOPE(o_totalprice, o_custkey), 6) AS slope,
           ROUND(REGR_INTERCEPT(o_totalprice, o_custkey), 4) AS icept,
           CAST(REGR_COUNT(o_totalprice, o_custkey) AS BIGINT) AS n
    FROM orders
    """,
)
def ml_linear_probe(spark, sf_dir):
    """Differential test of the in-engine linear trainer (functions.ml
    .linear_fit): an OLS fit of o_totalprice ~ o_custkey via distributed
    centered normal equations must agree with SQL's streaming-moment
    REGR_SLOPE/REGR_INTERCEPT to rounding precision — including the
    NULL-pair-skipping rule. The d×d solve is driver-side by design
    (d = #features); the corpus side is two aggregate passes."""
    from blazingsql_spark.functions.ml import linear_fit

    orders = load_table(spark, sf_dir, "orders")
    fit = linear_fit(orders, ["o_custkey"], "o_totalprice")
    raw = spark.createDataFrame(
        [(fit["weights"]["o_custkey"], fit["intercept"], fit["n"])],
        "slope double, icept double, n bigint",
    )
    # round Spark-side (half-up, same as DuckDB) — python round() is
    # banker's and would tie-break differently
    return raw.select(
        F.round("slope", 6).alias("slope"),
        F.round("icept", 4).alias("icept"),
        "n",
    )


@register(
    "dedup_spans",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    g2 AS (
        SELECT doc_id,
               toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
        FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2)) AS i) g
    ),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT g2.doc_id,
           CAST(COUNT(*) AS BIGINT)    AS n_grams,
           CAST(COUNT(d.gram) AS BIGINT) AS n_dup,
           FLOOR(COUNT(d.gram) * CAST(1000000 AS DOUBLE) / COUNT(*)) / 1000000
               AS dup_frac
    FROM g2 LEFT JOIN dup d USING (gram)
    GROUP BY g2.doc_id
    ORDER BY g2.doc_id
    """,
)
def dedup_spans(spark, sf_dir):
    """Span-level duplication exposure (functions.dedup
    .duplicated_ngram_spans): fraction of each doc's token 3-grams that
    occur in at least one other document — the distributed n-gram form of
    ExactSubstr dedup (Lee et al. 2022), catching boilerplate-stitched
    docs that doc-level MinHash scores as unique. Oracle: identical
    tokenize→lead-window→frequency pipeline in DuckDB SQL."""
    from blazingsql_spark.functions.dedup import duplicated_ngram_spans

    # fan_out (r12): same single-task tokenize+explode bottleneck as the
    # rewrite twin below
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return duplicated_ngram_spans(docs, n=3).orderBy("doc_id")


@register(
    "dedup_spans_rewrite",
    headline=True,
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    t AS (
        SELECT doc_id, g.i AS pos, toks[g.i] AS token
        FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(toks))) AS i) g
    ),
    g2 AS (
        SELECT doc_id, g.i AS pos,
               toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
        FROM base, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2)) AS i) g
    ),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
    covered AS (
        SELECT DISTINCT g2.doc_id, g2.pos + o.o AS pos
        FROM g2 JOIN dup USING (gram),
             LATERAL (SELECT UNNEST([0, 1, 2]) AS o) o
    ),
    fl AS (
        SELECT t.doc_id, t.pos, t.token, c.pos IS NOT NULL AS cov
        FROM t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           COALESCE(STRING_AGG(CASE WHEN NOT cov THEN token END,
                               ' ' ORDER BY pos), '') AS text_clean
    FROM fl GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_spans_rewrite(spark, sf_dir):
    """Span REMOVAL (functions.dedup.remove_duplicated_ngram_spans): the
    rewrite form of ExactSubstr dedup — tokens covered by any cross-doc
    duplicated 3-gram are dropped and the document reassembled, so
    boilerplate is cut while unique content survives. Every join is a key
    equi-join (gram key for the dup table, (doc, pos) for coverage);
    nothing broadcasts, nothing is quadratic."""
    from blazingsql_spark.functions.dedup import remove_duplicated_ngram_spans

    # fan_out (r12): the tokenize+gram-explode chain and the doc-level
    # join back both serialize on the single-row-group fixture scan
    # (stage profile: one ~1.1 s single-task stage ≈ half the query)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return remove_duplicated_ngram_spans(docs, n=3).orderBy("doc_id")


# Query terms for the BM25 demo: mid-frequency tokens of the synthetic
# vocabulary so idf actually discriminates (both engines see the same set).
_BM25_TERMS = ("vector", "spark", "hash")


@register(
    "text_bm25",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS n_t FROM tf GROUP BY token),
    scored AS (
        SELECT tf.doc_id,
               LN(1.0 + (c.n_docs - d.n_t + 0.5) / (d.n_t + 0.5))
               * (tf.tf * 2.5)
               / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / c.avgdl)) AS s
        FROM tf JOIN dfreq d USING (token)
                JOIN doclen dl USING (doc_id)
                CROSS JOIN corpus c
    )
    SELECT doc_id, FLOOR(SUM(s) * 10000) / 10000 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def text_bm25(spark, sf_dir):
    """BM25 lexical retrieval (functions.text.bm25_topk): the sparse half
    of a hybrid retrieval stack. Token stream filtered to the query terms
    BEFORE aggregation, 1-row corpus stats broadcast, TakeOrderedAndProject
    cut — the only corpus-wide shuffle is the document-length count."""
    from blazingsql_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k1=1.5, b=0.75, k=10)


@register(
    "vocab_bpe_pairs",
    headline=True,  # benched from r6 (bench.py reports common22 w/o it)
    oracle=r"""
    WITH toks AS (
        SELECT UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    words AS (
        SELECT token, COUNT(*) AS freq FROM toks
        GROUP BY token HAVING LENGTH(token) >= 2
    ),
    pairs AS (
        SELECT SUBSTR(token, g.i, 2) AS pair, freq
        FROM words, LATERAL (SELECT UNNEST(generate_series(1, LENGTH(token) - 1)) AS i) g
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
)
def vocab_bpe_pairs(spark, sf_dir):
    """One distributed BPE-training merge step (functions.text
    .bpe_pair_counts): adjacent-character-pair counts weighted by word
    frequency — the argmax pair is the next tokenizer merge. Pair counting
    runs over the distinct-word table (|vocab| rows), not the raw token
    stream, so the corpus collapses to a vocab-sized problem after one
    shuffle — the same pre-aggregation every practical BPE trainer uses."""
    from blazingsql_spark.functions.text import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_n=20)


@register(
    "vocab_unigram_seed",
    oracle=r"""
    WITH toks AS (
        SELECT UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    words AS (
        SELECT token, COUNT(*) AS freq FROM toks
        GROUP BY token HAVING LENGTH(token) >= 2
    ),
    subs AS (
        SELECT SUBSTR(token, s.i, l.n) AS piece, freq
        FROM words,
        LATERAL (SELECT UNNEST(generate_series(2, 4)) AS n) l,
        LATERAL (SELECT UNNEST(generate_series(1, LENGTH(token) - l.n + 1)) AS i) s
        WHERE LENGTH(token) >= l.n
    )
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS piece_count
    FROM subs GROUP BY piece
    ORDER BY piece_count DESC, piece LIMIT 20
    """,
)
def vocab_unigram_seed(spark, sf_dir):
    """The distributed seed step of unigram-LM tokenizer training
    (functions.text.unigram_seed_counts; the SentencePiece vocabulary
    family): substring frequencies over the |vocab|-row word table —
    the step that bounds the rest of training, which then runs EM over
    vocab-sized state (train_unigram: per-iteration forward-backward in
    an Arrow-batched pass, M-step/prune on the bounded piece table;
    NLL-monotonicity, exhaustive-Viterbi, and reconstruction
    property-tested — the same oracle-the-distributed-step,
    pytest-the-loop discipline as vocab_bpe_pairs/train_bpe)."""
    from blazingsql_spark.functions.text import unigram_seed_counts

    docs = load_table(spark, sf_dir, "documents")
    return unigram_seed_counts(docs, max_piece_len=4, top_n=20)


@register(
    "rag_hybrid_rrf",
    oracle=rf"""
    WITH q AS (
        SELECT embedding AS qe FROM embeddings
        WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    ),
    dense AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(
                       list_dot_product(e.embedding::DOUBLE[], q.qe::DOUBLE[]) /
                       (SQRT(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * SQRT(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[]))), 6) DESC,
                   vec_id) AS rnk
        FROM embeddings e CROSS JOIN q
        QUALIFY rnk <= 20
    ),
    toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {_BM25_TERMS!r}
        GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS n_t FROM tf GROUP BY token),
    bm AS (
        SELECT tf.doc_id,
               SUM(LN(1.0 + (c.n_docs - d.n_t + 0.5) / (d.n_t + 0.5))
                   * (tf.tf * 2.5)
                   / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / c.avgdl))) AS s
        FROM tf JOIN dfreq d USING (token)
                JOIN doclen dl USING (doc_id)
                CROSS JOIN corpus c
        GROUP BY tf.doc_id
    ),
    sparse AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY FLOOR(s * 10000) / 10000 DESC, doc_id) AS rnk
        FROM bm QUALIFY rnk <= 20
    )
    SELECT COALESCE(dense.doc_id, sparse.doc_id) AS doc_id,
           FLOOR((COALESCE(1.0 / (60 + dense.rnk), 0)
                  + COALESCE(1.0 / (60 + sparse.rnk), 0)) * 1000000) / 1000000 AS rrf,
           dense.rnk  AS dense_rank,
           sparse.rnk AS sparse_rank
    FROM dense FULL OUTER JOIN sparse USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def rag_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: dense cosine top-20
    (functions.similarity.cosine_topk over one query vector) fused with
    sparse BM25 top-20 (functions.text.bm25_topk) as
    SUM(1 / (60 + rank)) — the standard RRF formula. Rank-based, so the
    fusion is integer-deterministic regardless of score scales; each
    branch is its own bounded top-k (TakeOrderedAndProject / per-query
    window), joined FULL OUTER on the tiny (<=20-row) rank lists.
    Embeddings and documents share the id domain in the fixtures."""
    from pyspark.sql import Window

    from blazingsql_spark.functions.similarity import cosine_topk
    from blazingsql_spark.functions.text import bm25_topk

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    queries = emb.filter(F.col("vec_id") == min_id).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = (
        cosine_topk(emb, queries, k=20)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    )
    sparse = (
        bm25_topk(docs, list(_BM25_TERMS), k=20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .alias("sparse_rank"),
        )
    )
    fused = (
        dense.join(sparse, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.floor(
                    (
                        F.coalesce(1.0 / (60 + F.col("dense_rank")), F.lit(0.0))
                        + F.coalesce(1.0 / (60 + F.col("sparse_rank")), F.lit(0.0))
                    )
                    * 1000000
                )
                / 1000000
            ).alias("rrf"),
            "dense_rank",
            "sparse_rank",
        )
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10)


@register(
    "emb_normalize",
    oracle="""
    SELECT vec_id,
           ROUND(SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
               AS l2_norm,
           ROUND(list_dot_product(
               list_transform(embedding::DOUBLE[],
                   x -> x / SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))),
               list_transform(embedding::DOUBLE[],
                   x -> x / SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))),
               6) AS renorm
    FROM embeddings
    ORDER BY vec_id LIMIT 50
    """,
)
def emb_normalize(spark, sf_dir):
    """L2 embedding normalization (functions.similarity.l2_normalize):
    unit-norm vectors so downstream cosine reduces to a dot product —
    shuffle-free codegen transform, the standard embedding-table pre-step.
    Output proves the contract: original norm + the normalized vector's
    re-computed norm (== 1 up to rounding)."""
    from blazingsql_spark.functions.similarity import l2_norm, l2_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
            l2_normalize(F.col("embedding")).alias("unit"),
        )
        .select(
            "vec_id",
            "l2_norm",
            F.round(
                F.aggregate(
                    F.col("unit"), F.lit(0.0), lambda acc, x: acc + x * x
                ),
                6,
            ).alias("renorm"),
        )
        .orderBy("vec_id")
        .limit(50)
    )


@register(
    "graph_pagerank",
    oracle="""
    WITH e AS (
        SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
        WHERE doc_id % 7 <> 6
          AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    r1 AS (
        SELECT nodes.node,
               0.15 / nn.n + 0.85 * COALESCE(SUM(r0.r / outdeg.od), 0.0) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN e ON e.dst = nodes.node
        LEFT JOIN r0 ON r0.node = e.src
        LEFT JOIN outdeg ON outdeg.src = e.src
        GROUP BY nodes.node, nn.n
    ),
    r2 AS (
        SELECT nodes.node,
               0.15 / nn.n + 0.85 * COALESCE(SUM(r1.r / outdeg.od), 0.0) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN e ON e.dst = nodes.node
        LEFT JOIN r1 ON r1.node = e.src
        LEFT JOIN outdeg ON outdeg.src = e.src
        GROUP BY nodes.node, nn.n
    ),
    r3 AS (
        SELECT nodes.node,
               0.15 / nn.n + 0.85 * COALESCE(SUM(r2.r / outdeg.od), 0.0) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN e ON e.dst = nodes.node
        LEFT JOIN r2 ON r2.node = e.src
        LEFT JOIN outdeg ON outdeg.src = e.src
        GROUP BY nodes.node, nn.n
    )
    SELECT node, FLOOR(r * 1000000000) / 1000000000 AS rank
    FROM r3 ORDER BY node
    """,
)
def graph_pagerank(spark, sf_dir):
    """PageRank over the doc-chain graph (operators.graph.pagerank, 3
    power iterations, damping 0.85) — rank-based importance for weighting
    documents by link structure before sampling. Same chain edges as
    dedup_components; in-degree <= 1 there, so per-node contribution sums
    have a single term and the doubles are engine-exact (the oracle
    unrolls the identical three iterations). redistribute_dangling=False
    to match the oracle's uncorrected recurrence — the correction term is
    a global float sum whose addition order is engine-dependent, so it
    cannot be grid-compared exactly; the operator's default (True)
    conserves total rank and is property-tested in test_functions."""
    from blazingsql_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    edges = (
        docs.filter((F.col("doc_id") % 7 != 6) & (F.col("doc_id") + 1 <= max_id))
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    )
    out = pagerank(edges, damping=0.85, iterations=3, redistribute_dangling=False)
    return out.select(
        "node", (F.floor(F.col("rank") * 1000000000) / 1000000000).alias("rank")
    ).orderBy("node")


# Feature hashing (the "hashing trick"): tokens bucketed by the portable
# md5-prefix hash into a FIXED dimensionality — the vectorizer that needs
# no vocabulary pass at all (vs docs_tokenize_ids' rank-cut vocab), so a
# 100 TB corpus vectorizes in one map-side pass + one per-doc aggregate.
_FHASH_DIM = 8
_FHASH_SPARK = (
    "PMOD(CAST(CONV(SUBSTRING(MD5(CONCAT('fh:', token)), 1, 15), 16, 10) AS BIGINT), 8)"
)
_FHASH_DUCK = "('0x' || SUBSTR(MD5('fh:' || token), 1, 15))::BIGINT % 8"


@register(
    "docs_feature_hash",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    b AS (SELECT doc_id, {_FHASH_DUCK} AS bucket FROM toks)
    SELECT doc_id,
           {', '.join(f"CAST(SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}" for i in range(8))}
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
)
def docs_feature_hash(spark, sf_dir):
    """Hashing-trick vectorization: token -> md5-prefix bucket (the same
    engine-portable hash as functions.sampling.hash_bucket) -> fixed-dim
    count vector via ONE groupBy of conditional sums (pure codegen, no
    pivot shuffle, no vocabulary broadcast). The no-vocab complement of
    docs_tokenize_ids for linear probes / fast dedup features."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    bucketed = toks.select("doc_id", F.expr(_FHASH_SPARK).alias("bucket"))
    return (
        bucketed.groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("bucket") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"f{i}")
                for i in range(_FHASH_DIM)
            ]
        )
        .orderBy("doc_id")
    )


@register(
    "sample_dsir_weights",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS arr
        FROM documents
    ),
    uni AS (SELECT doc_id, UNNEST(arr) AS gram FROM toks),
    bi AS (
        SELECT doc_id, arr[g.i] || ' ' || arr[g.i + 1] AS gram
        FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(arr) - 1)) AS i) g
        WHERE len(arr) >= 2
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    b AS (SELECT doc_id,
                 ('0x' || SUBSTR(MD5('dsir:' || gram), 1, 15))::BIGINT % 256 AS bucket
          FROM grams),
    feats AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
    q AS (SELECT bucket, SUM(c) AS qc FROM feats GROUP BY 1),
    qt AS (SELECT SUM(qc) AS q_total FROM q),
    pfeats AS (SELECT f.* FROM feats f JOIN documents d USING (doc_id)
               WHERE d.lang = 'en'),
    p AS (SELECT bucket, SUM(c) AS pc FROM pfeats GROUP BY 1),
    pt AS (SELECT SUM(pc) AS p_total FROM p),
    ratio AS (
        SELECT q.bucket,
               LN((COALESCE(p.pc, 0) + 1.0)
                  / (COALESCE((SELECT p_total FROM pt), 0) + 256.0))
             - LN((q.qc + 1.0) / ((SELECT q_total FROM qt) + 256.0)) AS log_ratio
        FROM q LEFT JOIN p USING (bucket)
    ),
    w AS (SELECT f.doc_id, SUM(f.c * r.log_ratio) AS w
          FROM feats f JOIN ratio r USING (bucket) GROUP BY 1)
    SELECT d.doc_id, ROUND(COALESCE(w.w, 0.0), 6) AS dsir_logw
    FROM documents d LEFT JOIN w USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def sample_dsir_weights(spark, sf_dir):
    """DSIR importance weights (functions.sampling.dsir_log_weights; Xie
    et al. 2023): score every document by the log likelihood ratio of its
    hashed unigram+bigram distribution under the target (here: the 'en'
    slice as the quality exemplar) vs the raw corpus — the published
    hashed-ngram estimator for "select raw data that looks like the
    target". Everything joined is bounded by n_buckets=256 rows, so
    per-doc scoring is a broadcast join + one groupBy; compose with
    sample_weighted_es to draw the actual resample."""
    from blazingsql_spark.functions.sampling import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, docs.filter(F.col("lang") == "en"), n_buckets=256)
    return w.select(
        "doc_id", F.round("dsir_logw", 6).alias("dsir_logw")
    ).orderBy("doc_id")


# Efraimidis-Spirakis weighted sampling WITHOUT replacement: key each row
# with ln(u)/w (u hash-derived, deterministic — no rand(), reproducible
# across engines AND reruns) and take the global top-k by key. Gives an
# EXACT-size weighted sample where sample_weighted's Bernoulli form gives
# an expected-size one. One scan + TakeOrderedAndProject; no shuffle
# beyond the top-k merge.
pair(
    "sample_weighted_es",
    """
    WITH keyed AS (
        SELECT o_orderkey,
               LN(CAST(CAST(CONV(SUBSTRING(MD5(CONCAT('es:',
                        CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)
                       + 1 AS DOUBLE)
                  / CAST(1152921504606846976 AS DOUBLE))
               / CAST(o_totalprice AS DOUBLE) AS es_key
        FROM orders
    )
    SELECT o_orderkey, FLOOR(es_key * 1000000000) / 1000000000 AS es_key
    FROM keyed
    ORDER BY es_key DESC, o_orderkey LIMIT 20
    """,
    """
    WITH keyed AS (
        SELECT o_orderkey,
               LN(CAST(('0x' || SUBSTR(MD5('es:' || CAST(o_orderkey AS VARCHAR)),
                        1, 15))::BIGINT + 1 AS DOUBLE)
                  / CAST(1152921504606846976 AS DOUBLE))
               / CAST(o_totalprice AS DOUBLE) AS es_key
        FROM orders
    )
    SELECT o_orderkey, FLOOR(es_key * 1000000000) / 1000000000 AS es_key
    FROM keyed
    ORDER BY es_key DESC, o_orderkey LIMIT 20
    """,
    tables=("orders",),
    doc="Efraimidis-Spirakis exact-size weighted sample (hash-deterministic, P(top-k) ∝ weights)",
)


@register(
    "text_gopher_quality",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               len(list_filter(string_split(text, chr(10)),
                               x -> LENGTH(TRIM(x)) > 0)) AS nl,
               len(list_distinct(list_filter(string_split(text, chr(10)),
                                             x -> LENGTH(TRIM(x)) > 0))) AS nd
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS arr
        FROM documents
    ),
    grams AS (
        SELECT doc_id, arr[g.i] || ' ' || arr[g.i + 1] AS gram
        FROM toks,
             LATERAL (SELECT UNNEST(generate_series(1, len(arr) - 1)) AS i) g
        WHERE len(arr) >= 2
    ),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    gt AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS tot FROM gc GROUP BY 1)
    SELECT b.doc_id,
           CAST(b.nl AS BIGINT) AS n_lines,
           ROUND(1.0 - CAST(b.nd AS DOUBLE) / GREATEST(b.nl, 1), 6) AS dup_line_frac,
           ROUND(COALESCE(CAST(gt.top AS DOUBLE) / gt.tot, 0.0), 6) AS top_2gram_frac,
           ((1.0 - CAST(b.nd AS DOUBLE) / GREATEST(b.nl, 1)) <= 0.3
            AND COALESCE(CAST(gt.top AS DOUBLE) / gt.tot, 0.0) <= 0.2) AS repetition_ok
    FROM base b LEFT JOIN gt USING (doc_id)
    """,
)
def text_gopher_quality(spark, sf_dir):
    """Gopher-style repetition filters (functions.text.gopher_repetition):
    duplicate-line fraction + most-frequent-2-gram share, the published
    repetition rules (Rae et al. 2021 §A1.1) that catch boilerplate/spam
    documents the length/punctuation filters miss. Line metrics are pure
    array expressions; the 2-gram share is one explode + partial-agg
    groupBy bounded by total token count."""
    from blazingsql_spark.functions.text import gopher_repetition

    docs = load_table(spark, sf_dir, "documents")
    return gopher_repetition(docs)


@register(
    "text_nfc_normalize",
    oracle="""
    SELECT doc_id,
           MD5(nfc_normalize(text)) AS nfc_hash,
           nfc_normalize(text) <> text AS changed
    FROM documents
    """,
)
def text_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (functions.text.nfc_normalize): the
    canonical first step of corpus cleaning. Spark has no normalization
    builtin, so this is a documented Arrow-batched pandas-UDF path
    (unicodedata per batch) vs DuckDB's native nfc_normalize(); compared
    via md5 of the normalized text plus a changed flag."""
    from blazingsql_spark.functions.text import nfc_normalize

    docs = load_table(spark, sf_dir, "documents")
    return nfc_normalize(docs).select(
        "doc_id",
        F.md5(F.col("text_nfc")).alias("nfc_hash"),
        (F.col("text_nfc") != F.col("text")).alias("changed"),
    )


@register(
    "docs_tfidf_topk",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf,
               CAST(tf.tf AS DOUBLE)
               * (LN((CAST(n.nd AS DOUBLE) + 1.0)
                      / (CAST(dfq.df AS DOUBLE) + 1.0)) + 1.0) AS score
        FROM tf JOIN dfq USING (token) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, token, tf, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token ASC) AS rank
        FROM scored
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf,
           ROUND(score, 6) AS tfidf
    FROM ranked WHERE rank <= 5
    """,
)
def docs_tfidf_topk(spark, sf_dir):
    """Per-document top-5 TF-IDF terms (functions.text.tfidf_topk),
    smoothed idf per the scikit-learn convention — keyword extraction /
    sparse retrieval sibling of BM25. tf and df are single partial-agg
    groupBys; N joins in as a broadcast 1-row aggregate (no driver
    scalar); top-k is a bounded per-doc window. Ties by token ascending
    in both engines."""
    from blazingsql_spark.functions.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=5)


@register(
    "text_html_strip",
    oracle=r"""
    SELECT doc_id,
           MD5(cleaned) AS clean_hash,
           CAST(LENGTH(cleaned) AS BIGINT) AS clean_len
    FROM (
        SELECT doc_id,
               TRIM(REGEXP_REPLACE(
                   REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
                       REGEXP_REPLACE(text, '<[^>]*>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS cleaned
        FROM documents
    )
    """,
)
def text_html_strip(spark, sf_dir):
    """HTML removal for web-scrape prep (functions.text.html_strip):
    tag strip + entity unescape (amp last) + whitespace collapse, all
    codegen regexp/replace — a map-only pass with no UDF. Compared via
    md5 + length of the cleaned text."""
    from blazingsql_spark.functions.text import html_strip

    docs = load_table(spark, sf_dir, "documents")
    return html_strip(docs).select(
        "doc_id",
        F.md5(F.col("text_clean")).alias("clean_hash"),
        F.length("text_clean").cast("long").alias("clean_len"),
    )


@register(
    "graph_triangles",
    oracle="""
    WITH e AS (
        SELECT d1.doc_id AS u, d2.doc_id AS v
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
        UNION ALL
        SELECT d1.doc_id AS u, d2.doc_id AS v
        FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def graph_triangles(spark, sf_dir):
    """Exact triangle counting (operators.graph.triangle_count):
    oriented-edge canonicalization then two shuffle equi-joins — each
    triangle counted once at its smallest vertex. Demo graph: doc chain
    with skip links (i→i+1, i→i+2 when those ids exist — an equi-join
    against the id set, so the construction itself is broadcast-hash,
    never a nested loop, and survives id gaps), giving max(doc_id)-1
    triangles on the contiguous fixture, closed only through the join
    path — the oracle runs the identical 3-way self-join in DuckDB."""
    from blazingsql_spark.operators.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    nxt = ids.select((F.col("doc_id")).alias("dst"))

    def skip_edges(k: int):
        return ids.select(
            F.col("doc_id").alias("src"), (F.col("doc_id") + k).alias("dst_want")
        ).join(nxt, F.col("dst_want") == F.col("dst")).select("src", "dst")

    return triangle_count(skip_edges(1).unionAll(skip_edges(2)))


@register(
    "sample_shuffle_head",
    oracle="""
    SELECT doc_id,
           ('0x' || SUBSTR(MD5('epoch0' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS shuffle_order
    FROM documents
    ORDER BY shuffle_order, doc_id LIMIT 20
    """,
)
def sample_shuffle_head(spark, sf_dir):
    """Reproducible global corpus shuffle (functions.sampling
    .deterministic_shuffle): range-sort on the salted 60-bit md5 of the
    id — identical permutation across runs/engines/partitionings, a new
    independent one per seed (per training epoch). One range exchange,
    the cost of any global sort; top-20 here is TakeOrderedAndProject."""
    from blazingsql_spark.functions.sampling import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return (
        deterministic_shuffle(docs, seed="epoch0")
        .select("doc_id", "shuffle_order")
        .limit(20)
    )


@register(
    "docs_token_budget",
    oracle="""
    WITH ordered AS (
        SELECT doc_id, n_chars,
               ('0x' || SUBSTR(MD5('budget' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS shuffle_order
        FROM documents
    ),
    run AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (ORDER BY shuffle_order, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM ordered
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM run WHERE cum_tokens - n_chars < 20000
    """,
)
def docs_token_budget(spark, sf_dir):
    """Token-budget corpus head (functions.sampling.token_budget_head):
    'give me ~N tokens of this corpus, reproducibly' — running token
    total over the deterministic-shuffle order, keep rows whose PREVIOUS
    total is under budget (the crossing document is included). The
    running sum is operators.window.global_running — chunked two-pass
    prefix aggregation, no single-partition window, so the budget cut
    costs a sort, not a bottleneck. Budget column here is the fixture's
    n_chars (a token proxy); any integer cost column works."""
    from blazingsql_spark.functions.sampling import token_budget_head

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_head(docs, budget=20000, token_col="n_chars").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


@register(
    "dedup_semantic",
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
        WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id FROM corpus a
    WHERE NOT EXISTS (
        SELECT 1 FROM corpus b
        WHERE b.vec_id < a.vec_id
          AND ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                    (SQRT(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
              >= 0.95
    )
    ORDER BY vec_id
    """,
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup keep-set
    (similarity.semantic_dedup_keep) over a corpus with injected
    exact-copy vectors: drop items with a lower-id cosine>=0.95 neighbor
    in their cluster. This row runs the exact n_clusters=1 special case
    so the DuckDB twin is a plain all-pairs NOT EXISTS; it is the
    CORRECTNESS anchor for the family, deliberately quadratic (the
    paper's exact case), so it is NOT a headline bench row — the
    production bounded path is benched as `dedup_semantic_bounded`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = fan_out(emb.unionAll(dups))
    keep = similarity.semantic_dedup_keep(
        # max_cluster_size=None: the paper-exact unbounded opt-in — this
        # row IS the exact anchor (bounded-by-default since r9)
        corpus, n_clusters=1, threshold=0.95, dim=64, max_cluster_size=None
    )
    return keep.select("vec_id").orderBy("vec_id")


@register(
    "dedup_semantic_bounded",
    headline=True,
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
        WHERE vec_id % 50 = 0
    ),
    planes AS (
        SELECT p, i,
               CASE WHEN ASCII(SUBSTRING(MD5((p + 1000)::VARCHAR || '-' || i::VARCHAR), 1, 1)) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 10) tp(p) CROSS JOIN range(1, 65) ti(i)
    ),
    elems AS (
        SELECT vec_id, ti.i, embedding[ti.i]::DOUBLE AS x
        FROM corpus CROSS JOIN range(1, 65) ti(i)
    ),
    bits AS (
        SELECT vec_id, p AS j,
               CASE WHEN SUM(x * s) >= 0 THEN 1 ELSE 0 END AS b
        FROM elems JOIN planes USING (i) GROUP BY vec_id, p
    ),
    chains AS (
        SELECT b.vec_id, tk.k,
               '0' || COALESCE(
                   '.' || STRING_AGG(b.b::VARCHAR, '.' ORDER BY b.j)
                       FILTER (WHERE b.j < tk.k), '') AS g
        FROM bits b CROSS JOIN range(0, 11) tk(k)
        GROUP BY b.vec_id, tk.k
    ),
    sizes AS (SELECT k, g, COUNT(*) AS n FROM chains GROUP BY k, g),
    fitk AS (
        SELECT c.vec_id, MIN(c.k) AS bk
        FROM chains c JOIN sizes s ON s.k = c.k AND s.g = c.g
        WHERE s.n <= 400
        GROUP BY c.vec_id
    ),
    grp AS (
        SELECT c.vec_id, c.g
        FROM chains c JOIN fitk f ON f.vec_id = c.vec_id AND f.bk = c.k
    )
    SELECT c.vec_id FROM corpus c JOIN grp ga ON ga.vec_id = c.vec_id
    WHERE NOT EXISTS (
        SELECT 1 FROM corpus b JOIN grp gb ON gb.vec_id = b.vec_id
        WHERE gb.g = ga.g AND b.vec_id < c.vec_id
          AND ROUND(list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                    (SQRT(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                     * SQRT(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
              >= 0.95
    )
    ORDER BY c.vec_id
    """,
)
def dedup_semantic_bounded(spark, sf_dir):
    """PRODUCTION SemDeDup path: semantic_dedup_keep with the
    max_cluster_size bound active, so the pairwise stage runs inside
    hyperplane-bisected groups (no side over 400 rows) instead of one
    quadratic blob — the shape that survives 100 TB. The group keys are
    the md5-parity Rademacher bisection prefixes (engine-portable, same
    spelling as the LSH oracles), resolved to the shallowest prefix
    whose group fits the cap, so the DuckDB twin reproduces the grouping
    EXACTLY — this row's oracle checks the real bounded semantics, not a
    simplification. The salting last resort is deliberately out of
    fixture reach (it needs >400 near-identical vectors; the injected
    dup groups have 2) and pytest asserts it stays unused here; the
    skew/salting behavior itself is property-tested in
    tests/test_functions.py. Replaced `dedup_semantic` (the exact
    quadratic special case, still registered for correctness) in the
    headline bench set in round 8 — benchmarking the deliberately
    quadratic oracle anchor was measuring the paper's worst case, not
    the operator."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    # Size-aware fan-out width (r13, VERDICT r12 #1): the hyperplane-bit
    # transform and the group-key shuffle's map side run at INPUT width,
    # so some fan-out is required on the single-row-group fixture
    # (measured: no fan-out 3.5 s, width 8 1.7 s at sf0.1) — but the r12
    # full-width (32) repartition multiplied per-job scheduling overhead
    # across this query's ~15 sequential AQE jobs for no extra
    # parallelism (the pairwise stage is parallelized by its own
    # group-key repartition, not the scan).
    corpus = fan_out(emb.unionAll(dups), per_task_rows=256)
    keep = similarity.semantic_dedup_keep(
        corpus,
        n_clusters=1,
        threshold=0.95,
        dim=64,
        max_cluster_size=400,
        split_bits=10,
    )
    return keep.select("vec_id").orderBy("vec_id")


@register(
    "emb_quantize_int8",
    oracle="""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS x,
               list_max(list_transform(embedding::DOUBLE[], v -> ABS(v))) / 127.0
                   AS scale
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, scale, x,
               list_transform(x, v -> GREATEST(-127.0, LEAST(127.0,
                   FLOOR((CASE WHEN scale > 0 THEN v / scale ELSE 0 END) + 0.5))))
                   AS qv
        FROM base
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, v -> ABS(v))) AS BIGINT) AS q_l1,
           ROUND(list_sum(list_transform(list_zip(qv, x),
                                         p -> ABS(p[1] * scale - p[2]))) / len(x), 6)
               AS recon_mae
    FROM q ORDER BY vec_id
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 embedding quantization
    (functions.similarity.quantize_int8): scale = max|x|/127, engine-exact
    floor(x+0.5) rounding, clip to [-127,127] — pure JVM array
    expressions, no UDF, no shuffle. The compared columns fold the int8
    vector into exact integer checksums (q_sum/q_l1) because the driver
    harness cannot hash array cells; recon_mae is the per-vector
    dequantization drift a retrain gate would aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    to_long = lambda a, x: a + x.cast("long")  # noqa: E731
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("qvec", F.lit(0).cast("long"), to_long).alias("q_sum"),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, x: a + F.abs(x.cast("long"))
        ).alias("q_l1"),
        F.round("recon_mae", 6).alias("recon_mae"),
    ).orderBy("vec_id")


@register(
    "corpus_profile",
    headline=True,
    oracle=r"""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT)                          AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT)              AS n_langs,
               CAST(SUM(n_chars) AS BIGINT)                      AS total_chars,
               CAST(SUM(len(list_filter(
                       string_split_regex(LOWER(TRIM(text)), '\s+'),
                       x -> x <> ''))) AS BIGINT)                AS total_tokens,
               CAST(COUNT(DISTINCT MD5(text)) AS BIGINT)         AS distinct_texts,
               ROUND(1.0 - CAST(COUNT(DISTINCT MD5(text)) AS DOUBLE)
                     / COUNT(*), 6)                              AS dup_frac
        FROM documents
    ),
    pct AS (
        SELECT ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY n_chars), 6)
                   AS p50_chars,
               ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY n_chars), 6)
                   AS p99_chars
        FROM documents
    )
    SELECT * FROM agg CROSS JOIN pct
    """,
)
def corpus_profile(spark, sf_dir):
    """One-pass corpus health report — the summary a pipeline operator
    checks before/after every prep stage: doc and language counts, char/
    token totals, exact-duplicate fraction (distinct md5 over count), and
    exact length percentiles. One groupBy-less partial aggregate + the
    distributed exact-percentile pass (operators.stats — no
    single-partition sort), cross-joined as two 1-row frames. At 100 TB
    every piece is map-side partial aggregation; the only shuffles are
    the two distinct-count exchanges and the percentile range exchange."""
    from blazingsql_spark.operators.stats import group_percentile_cont

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = F.size(F.filter(ws, lambda x: x != F.lit("")))
    agg = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(toks).cast("long").alias("total_tokens"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        F.round(
            F.lit(1.0) - F.countDistinct(F.md5("text")).cast("double") / F.count("*"),
            6,
        ).alias("dup_frac"),
    )
    pct = group_percentile_cont(
        docs, keys=[], value_col="n_chars", quantiles={"p50_chars": 0.5, "p99_chars": 0.99}
    ).select(F.round("p50_chars", 6).alias("p50_chars"), F.round("p99_chars", 6).alias("p99_chars"))
    return agg.crossJoin(pct)


@register(
    "docs_ngram_novelty",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                           x -> x <> '') AS arr
        FROM documents
    ),
    grams AS (
        SELECT doc_id, arr[g.i] || ' ' || arr[g.i + 1] || ' ' || arr[g.i + 2]
                   AS gram
        FROM toks,
             LATERAL (SELECT UNNEST(generate_series(1, len(arr) - 2)) AS i) g
        WHERE len(arr) >= 3
    ),
    dg AS (SELECT DISTINCT doc_id, gram FROM grams),
    df AS (SELECT gram, COUNT(*) AS gdf FROM dg GROUP BY gram)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           ROUND(CAST(SUM(CASE WHEN f.gdf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM dg d JOIN df f USING (gram)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def docs_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty — the diversity complement of the dedup
    family: the fraction of a doc's distinct word-3-grams that appear in
    NO other document (document frequency 1). Low novelty flags template/
    boilerplate-heavy docs that per-doc repetition stats (gopher) miss
    because the repetition is ACROSS documents, not within one. Docs with
    fewer than 3 tokens have no grams and drop out, matching the oracle.

    Shape at 100 TB: one explode -> per-doc-distinct -> one partial-agg
    groupBy on the gram hash for df -> equi-join back on gram (AQE picks
    the strategy; the df table is frequency-skewed but bounded by the
    distinct-gram count) -> one groupBy on doc_id. The same scan/shuffle
    skeleton as jaccard_pairs' shingle stage, minus the pair fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    arr = F.filter(ws, lambda x: x != F.lit(""))
    grams = (
        docs.select(
            "doc_id",
            F.when(
                F.size(arr) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(arr, i),
                        F.element_at(arr, i + 1),
                        F.element_at(arr, i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")).alias("gs"),
        )
        .select("doc_id", F.explode("gs").alias("gram"))
        .distinct()
    )
    df_tbl = grams.groupBy("gram").agg(F.count("*").alias("gdf"))
    return (
        grams.join(df_tbl, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("gdf") == 1).cast("int")).cast("long").alias("n_unique"),
            F.round(
                F.sum((F.col("gdf") == 1).cast("int")).cast("double") / F.count("*"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )
