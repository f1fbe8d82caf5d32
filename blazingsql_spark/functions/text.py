"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All pure JVM-side column expressions (no Python
UDFs) — at 100 TB these run inside whole-stage codegen with zero
serialization overhead, embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic.
# Deliberately small + deterministic: language ID at scale is a first-pass
# router, not a classifier.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count, codegen-friendly (no split→array alloc)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def word_count_simple(text: Column) -> Column:
    """Space-delimited word count via length arithmetic — the cheapest
    possible scan-side token estimate (identical semantics in any engine)."""
    return F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + F.lit(1)


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word chunks + digits + punctuation
    separately (a common ~4-chars-per-token proxy without a tokenizer)."""
    words = F.size(F.filter(F.split(text, r"[^A-Za-z0-9]+"), lambda w: F.length(w) > 0))
    # long words tokenize into ~len/4 pieces
    extra = F.aggregate(
        F.split(text, r"[^A-Za-z0-9]+"),
        F.lit(0),
        lambda acc, w: acc + F.when(F.length(w) > 4, (F.length(w) - 1) / 4).otherwise(0).cast("int"),
    )
    return words + extra


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token stats, punctuation/space
    ratios, mean word length — the classic pre-training filters."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return df.select(
        "*",
        F.length(t).alias("q_len"),
        n_tok.alias("q_tokens"),
        (F.length(t) / F.greatest(n_tok, F.lit(1))).alias("q_avg_token_len"),
        (
            F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
            / F.greatest(F.length(t), F.lit(1))
        ).alias("q_punct_ratio"),
        (
            (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))))
            / F.greatest(F.length(t), F.lit(1))
        ).alias("q_space_ratio"),
    )


def quality_ok(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Boolean keep/drop verdict from quality_features thresholds."""
    feats = quality_features(df, text_col)
    return feats.withColumn(
        "quality_ok",
        (F.col("q_tokens") >= 5)
        & (F.col("q_tokens") <= 100000)
        & (F.col("q_avg_token_len") >= 2)
        & (F.col("q_avg_token_len") <= 15)
        & (F.col("q_punct_ratio") <= 0.3),
    )


def lang_marker_counts(text: Column, lang: str) -> Column:
    """Count of language-marker stopwords appearing as whole words."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    total = F.lit(0)
    for w in LANG_MARKERS[lang]:
        token = f" {w} "
        total = total + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(token), F.lit("")))) / len(token)
        ).cast("int")
    return total


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker counts,
    'und' when no markers hit. Pure expressions → scales linearly."""
    scores = [
        F.struct(lang_marker_counts(F.col(text_col), lang).alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col, F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of case/whitespace-normalized
    text. Engine-portable (md5 is md5 everywhere)."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(normalized)


def add_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fp") -> DataFrame:
    return df.withColumn(out_col, fingerprint(F.col(text_col)))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et al.):
    hash every char k-gram, keep the minimum hash per sliding window of
    `window` positions, emit the distinct minima as the document's
    fingerprint set. Robust to insertions — near-identical docs share most
    fingerprints.

    The k-gram hash is md5 (engine-portable, differential-testable); the
    sliding minimum is computed INSIDE the per-doc hash array
    (array_min over a slice per window position) — r12: the previous
    ROWS-window spelling shuffled + sorted the whole gram stream by doc
    just to see neighbors that already sit adjacent in the array (guide
    §2.4); this is shuffle-free until the final distinct. Identical
    fingerprint sets: F.min over md5 strings is the same lexicographic
    minimum as array_min, and the trailing windows (fewer than `window`
    grams) take the minimum of what remains, exactly as ROWS BETWEEN 0
    AND window-1 did at the partition tail.
    """
    t = F.col(text_col)
    n_grams = F.length(t) - (k - 1)
    hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.substring(t, i, k)),  # substring is O(1) per pos
        ),
        # guard: Spark sequence(1, 0) counts DOWN — short docs get no grams
    ).otherwise(F.array().cast("array<string>"))
    # materialize the hash array ONCE per row before the sliding pass —
    # referencing the md5-array expression inside the per-window lambda
    # would re-evaluate it per position (O(n²) hashing per doc)
    base = df.select(F.col(id_col), hashes.alias("__gh"))
    return (
        base.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.col("__gh"),
                    lambda _h, i: F.array_min(
                        F.slice(F.col("__gh"), i + F.lit(1), F.lit(window))
                    ),
                )
            ).alias("fingerprint"),
        )
        .distinct()
    )


# PII scrubbing: the standard pre-training hygiene pass. Pure regexp_replace
# chains — whole-stage-codegen expressions, shuffle-free, O(bytes scanned) —
# the ideal scan-side shape at 100 TB. Patterns are deliberately simple and
# engine-portable (no lookarounds: DuckDB's RE2 has none); production
# pipelines layer stricter patterns the same way.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\-. ]{6,}[0-9]"
IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(text: Column) -> Column:
    """Replace emails, long digit runs (phones), and IPv4 literals with
    typed placeholder tokens. Order matters: emails first (their local part
    can contain digits a phone pattern would eat)."""
    out = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_PATTERN, "<IP>")
    out = F.regexp_replace(out, PHONE_PATTERN, "<PHONE>")
    return out


def add_redacted(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    return df.withColumn(out_col, redact_pii(F.col(text_col)))


#: Compact English stopword head — enough signal for the stopword-fraction
#: quality rule (Gopher-style: natural prose has a stable stopword share;
#: keyword-stuffed or non-linguistic content does not).
STOPWORDS_EN = (
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
    "on", "was", "with", "as", "at", "by", "be", "this", "are", "or",
)


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are common stopwords — computed
    with a filter-lambda over the token array, all codegen, no explode."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    stop = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: bigram count, the
    distinct-bigram ratio (low = loops/boilerplate), and the share of the
    single most frequent bigram (high = stuck generator / template spam).

    One explode + one shuffle on (doc, bigram), counters only — per-doc
    state never exceeds its distinct-bigram count."""
    t = F.trim(F.col(text_col))
    ws = F.split(t, r"\s+")
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - 1),
                    lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    per_gram = grams.groupBy(id_col, "bigram").agg(F.count("*").alias("n"))
    return per_gram.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        (F.count("*") / F.sum("n")).alias("distinct_bigram_ratio"),
        (F.max("n") / F.sum("n")).alias("top_bigram_frac"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line that
    appears in >= min_df distinct documents (copyright footers, nav bars,
    cookie banners), then reassemble each document's remaining lines in
    order.

    Plan shape for 100 TB: lines = one posexplode (no shuffle);
    per-line document frequency = one partial-aggregated groupBy on the
    line hash; the boilerplate SET (lines over the threshold) anti-joins
    back onto the lines. The anti-join strategy is AQE-decided: the
    boilerplate set is usually small, but a frequency-filtered line table
    over a 100 TB crawl is not GUARANTEED broadcastable (same hazard
    class as the perplexity vocab), so no mandatory hint — AQE broadcasts
    exactly when the post-shuffle size fits. Final reassembly is one
    groupBy on the doc id. Documents whose every line is boilerplate
    disappear (0 surviving lines), matching the SQL-oracle semantics.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col)
    )


def unigram_negative_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """CCNet-style language-model quality score: per-document average
    negative log-probability under an add-one-smoothed unigram LM trained
    on the corpus itself (high score = unusual token distribution = likely
    junk; low = fluent-for-this-corpus).

    Scale shape: the LM is a (token, count) table cut by a FREQUENCY FLOOR
    (``count >= min_count`` — the standard LM vocab rule, and a pure filter:
    no global sort, unlike a top-K cut); out-of-vocab tokens take the
    unseen-mass probability 1/(N+V). The vocab join is left to AQE by
    default: a min-count-floored vocab of a 100 TB corpus is easily 1e8+
    rows, so a mandatory broadcast hint would OOM every executor — AQE
    sees the actual post-shuffle size and broadcasts exactly when it
    fits. The only corpus-wide shuffles are the vocab count
    (partial-aggregated) and the per-doc score aggregate.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    vocab_full = toks.groupBy("token").agg(F.count("*").alias("c"))
    vocab = vocab_full.filter(F.col("c") >= min_count)
    totals = vocab_full.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    scored = (
        toks.join(vocab, "token", "left")
        .crossJoin(F.broadcast(totals))  # totals is a single row
        .select(
            F.col(id_col),
            F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n") + F.col("v"))).alias(
                "__lp"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        (F.floor(-F.sum("__lp") / F.count("*") * 10000) / 10000).alias("avg_neg_logprob"),
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) stream: lowercase whitespace tokenization, scan-side."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.5,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 lexical retrieval: score every document against a small query
    term set and return the top-k — the sparse half of a hybrid (lexical +
    vector) retrieval stack, and the standard quality baseline the dense
    ANN tiers (``functions.similarity``) are judged against.

    Scale shape: the token stream is filtered to the query terms BEFORE any
    aggregation, so per-term tf and df aggregates run over |terms| x |docs
    containing a term| rows, not the whole corpus; document length is one
    partial-aggregated groupBy over the corpus (the only corpus-wide
    shuffle); corpus size / avgdl is a 1-row aggregate broadcast onto the
    scored stream; the final cut is TakeOrderedAndProject (top-k per
    partition then merge — no global sort). Scores are FLOOR-gridded to
    1e-4 with an id tiebreak so ranking is engine-portable; the default
    k1/b are chosen binary-exact (1.5, 0.75) so k1+1 etc. are the same
    double whether computed here or parsed from a SQL oracle's literal.
    """
    toks = _tokens(df, id_col, text_col)
    doclen = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    qtoks = toks.filter(F.col("token").isin(list(query_terms)))
    tf = qtoks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    return _bm25_rank(tf, doclen, k1=k1, b=b, k=k, id_col=id_col)


def _bm25_rank(
    tf: DataFrame,
    doclen: DataFrame,
    k1: float,
    b: float,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared BM25 scoring core over prepared components: ``tf``
    (id, token, tf — already filtered to the query terms) and ``doclen``
    (id, dl). Both the direct corpus scan (bm25_topk) and the persisted
    lexical index (streaming.ingest.LexicalIndexIngest /
    bm25_topk_indexed) feed THIS function, so the indexed probe is
    exactly the batch computation by construction."""
    corpus = doclen.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("n_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col(id_col),
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("n_t") + 0.5) / (F.col("n_t") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__s"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg((F.floor(F.sum("__s") * 10000) / 10000).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    k1: float = 1.5,
    b: float = 0.75,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 probe against a PERSISTED lexical index (built/maintained by
    ``streaming.ingest.LexicalIndexIngest``): postings are token-clustered
    parquet, so the term filter prunes to the query terms' row groups and
    query-time cost scales with the posting lists touched, not the corpus.
    Reads are MANIFEST-GATED (sources.manifest): only the partitions the
    newest manifest declares live are consumed, so half-written
    compaction output and superseded epochs are invisible. Returns the
    same result as ``bm25_topk`` over the full corpus (the scoring core
    is shared; equivalence is asserted in tests).

    Legacy flat (un-partitioned) indexes — written before the manifest
    layout, no ``epoch_id`` column — read as plain parquet; the guard is
    sources.manifest.read_live, shared with the dedup index
    (``dedup.incremental_near_dup_check``)."""
    from blazingsql_spark.sources import manifest as mf

    root = index_path.rstrip("/")
    man = mf.read_manifest(spark, root)
    postings = mf.read_live(spark, f"{root}/postings", man).filter(
        F.col("token").isin(list(query_terms))
    )
    doclen = mf.read_live(spark, f"{root}/doclen", man)
    return _bm25_rank(postings, doclen, k1=k1, b=b, k=k, id_col=id_col)


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """One BPE-training merge step, distributed: count adjacent character
    pairs across the corpus weighted by word frequency — the inner loop of
    byte-pair-encoding tokenizer training (the top pair is the next merge).
    Mirrors the word-frequency pre-aggregation every practical BPE trainer
    uses: pair counting runs over the DISTINCT-word table (|vocab| rows),
    not the raw token stream, so a 100 TB corpus collapses to a vocab-sized
    problem after one shuffle.

    Shuffles: token count (partial-aggregated, the only corpus-wide one),
    then pair-sum over an exploded vocab table bounded by
    |vocab| x avg_word_len. Top-n is TakeOrderedAndProject.
    """
    words = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("token") >= 2)
    )
    pairs = words.select(
        F.col("freq"),
        F.explode(
            F.expr("transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(top_n)
    )


def _apply_merge(syms, a: str, b: str):
    """One BPE merge applied to a symbol array, JVM-side: greedy
    left-to-right fold replacing each adjacent (a, b) with a+b —
    equivalent to the classic non-overlapping single-pass merge (a pair
    re-forming ACROSS a just-merged boundary merges later in the same
    pass, exactly as the sequential algorithm does)."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_top_2gram_frac: float = 0.20,
) -> DataFrame:
    """Repetition-based quality metrics in the style of the published
    Gopher filtering rules (Rae et al. 2021 §A1.1): the fraction of
    duplicate lines and the share of the document's word-2-grams taken by
    its single most frequent 2-gram — high values mark boilerplate/spam
    documents that length/punctuation filters (quality_features) miss.

    Scale shape: line metrics are pure per-row array expressions (no
    shuffle); the 2-gram share is one explode + (id, gram) partial-agg
    groupBy + per-id rollup — rows bounded by total token count, the same
    scale as tokenization itself. Output: (id, n_lines, dup_line_frac,
    top_2gram_frac, repetition_ok), fractions rounded to 6 for
    cross-engine compare while the verdict uses the unrounded values."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("__nl"),
        F.size(F.array_distinct(lines)).alias("__nd"),
    )
    arr = F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != "")
    grams = (
        df.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size(arr) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.concat(
                            F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__tot"))
    )
    dup_frac = F.lit(1.0) - F.col("__nd").cast("double") / F.greatest(
        F.col("__nl"), F.lit(1)
    ).cast("double")
    top_frac = F.coalesce(
        F.col("__top").cast("double") / F.col("__tot").cast("double"), F.lit(0.0)
    )
    return (
        base.join(grams, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__nl").cast("long").alias("n_lines"),
            F.round(dup_frac, 6).alias("dup_line_frac"),
            F.round(top_frac, 6).alias("top_2gram_frac"),
            (
                (dup_frac <= F.lit(max_dup_line_frac))
                & (top_frac <= F.lit(max_top_2gram_frac))
            ).alias("repetition_ok"),
        )
    )


def nfc_normalize(
    df: DataFrame, text_col: str = "text", out_col: str = "text_nfc"
) -> DataFrame:
    """Unicode NFC normalization — the canonical first step of every text
    pipeline (combining-mark sequences, compatibility forms from OCR/web
    scrapes). Spark SQL has no normalization builtin, so this is the
    documented Arrow-batched pandas-UDF slow path (unicodedata.normalize
    over each batch); the DuckDB twin is its native nfc_normalize()."""
    import unicodedata

    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def nfc(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return df.withColumn(out_col, nfc(F.col(text_col)))


def html_strip(
    df: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Strip HTML for web-scrape corpus prep: remove tags, unescape the
    six ubiquitous entities (amp LAST so '&amp;lt;' ends as '&lt;', not
    '<'), collapse whitespace. Pure codegen regexp/replace chain — no
    UDF, scales as a map-only pass; pair with remove_boilerplate for
    line-level chrome."""
    t = F.regexp_replace(F.col(text_col), r"<[^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return df.withColumn(out_col, F.trim(F.regexp_replace(t, r"\s+", " ")))


def tfidf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms with smoothed idf
    (ln((N+1)/(df+1)) + 1 — the scikit-learn convention): the classic
    sparse document representation behind keyword extraction and lexical
    retrieval (BM25's sibling; bm25_topk shares the same posting shape).

    Scale shape: tf = one (id, token) partial-agg groupBy; df = one
    groupBy over the tf table (|vocab|-bounded); N joins in as a
    broadcast 1-row aggregate (no driver scalar); top-k per doc is a
    bounded window. Deterministic: ties by token ascending."""
    from pyspark.sql.window import Window

    toks = _tokens(df, id_col, text_col)
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "__score",
            F.col("tf").cast("double")
            * (
                F.log(
                    (F.col("__n").cast("double") + 1.0)
                    / (F.col("df").cast("double") + 1.0)
                )
                + 1.0
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("rank").cast("long").alias("rank"),
            "token",
            F.col("tf"),
            F.round(F.col("__score"), 6).alias("tfidf"),
        )
    )


def _driver_bpe_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """In-memory BPE merge loop over a collected (word, freq) table, with
    incremental pair-count maintenance: per merge only the words that
    CONTAIN the winning pair are touched (pair -> word-ids inverted index),
    and the arg-max uses a lazy-invalidation heap — so 32k merges cost
    O(touched symbols), not O(n_merges x corpus_vocab). Identical
    semantics to the distributed loop: (count DESC, a ASC, b ASC) winner,
    greedy left-to-right non-overlapping within-word application
    (equality-tested against it)."""
    import heapq

    syms: list[list[str]] = [list(w) for w, _ in word_freqs]
    freqs: list[int] = [f for _, f in word_freqs]

    def word_pairs(s: list[str]) -> dict[tuple[str, str], int]:
        out: dict[tuple[str, str], int] = {}
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            out[p] = out.get(p, 0) + 1
        return out

    counts: dict[tuple[str, str], int] = {}
    occur: dict[tuple[str, str], set[int]] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for p, c in word_pairs(s).items():
            counts[p] = counts.get(p, 0) + c * f
            occur.setdefault(p, set()).add(idx)
    # heap entries are (-count, a, b); stale entries are skipped at pop by
    # checking against the live counts dict (standard lazy invalidation)
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best: tuple[str, str] | None = None
        while heap:
            negc, a, b = heap[0]
            if counts.get((a, b), 0) == -negc and negc < 0:
                best = (a, b)
                break
            heapq.heappop(heap)
        if best is None:
            break
        a, b = best
        merges.append(best)
        touched: dict[tuple[str, str], int] = {}
        for idx in list(occur.get(best, ())):
            f = freqs[idx]
            old = word_pairs(syms[idx])
            s = syms[idx]
            out: list[str] = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[idx] = out
            new = word_pairs(out)
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    counts[p] = counts.get(p, 0) + d * f
                    touched[p] = 1
                if new.get(p, 0) == 0:
                    occ = occur.get(p)
                    if occ is not None:
                        occ.discard(idx)
                elif old.get(p, 0) == 0:
                    occur.setdefault(p, set()).add(idx)
        for p in touched:
            c = counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
            else:
                counts.pop(p, None)
                occur.pop(p, None)
    vocab: dict[str, int] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for x in s:
            vocab[x] = vocab.get(x, 0) + f
    return merges, vocab


def train_bpe(
    df: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    driver_vocab_rows: int | None = 2_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Full BPE tokenizer training (iterated merges), distributed the way
    every practical trainer does it: the CORPUS is touched exactly once
    (tokenize + word-frequency groupBy); the merge loop runs over the
    |vocab|-row (word, freq, syms) table — at 100 TB the corpus scan
    dominates and the N merge steps are vocab-bounded.

    Merge-loop scheduling: the distributed loop costs two Spark stages
    PER MERGE (~64k stages for a real 32k-merge train — hours of pure
    scheduling). Since the word-frequency table is vocab-bounded (millions
    of rows even at 100 TB), when it fits under ``driver_vocab_rows`` it
    is collected ONCE (Arrow) and the merge loop runs in driver memory
    with incremental pair counts (_driver_bpe_merges) — same corpus scan,
    zero per-merge stages. Tables above the bound (or
    ``driver_vocab_rows=None``) take the distributed per-merge loop.
    Both paths are equality-tested against each other and against the
    sequential pure-Python reference.

    Deterministic: the winning pair maximizes weighted count with
    (count DESC, a ASC, b ASC) tiebreak — differential-tested against a
    sequential pure-Python BPE on the same word-frequency dict.

    Returns (merges, vocab_df): the ordered merge list and the final
    (symbol, freq) vocabulary. No end-of-word marker (document-internal
    whitespace tokenization already bounds words); plug one in by
    appending it to ``syms`` at init if needed.
    """
    words = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    if driver_vocab_rows is not None:
        # Arrow-batched probe-collect: ask for bound+1 rows — getting more
        # than the bound proves the table doesn't fit, and the distributed
        # loop takes over; otherwise we hold the complete table already.
        pdf = words.limit(driver_vocab_rows + 1).toPandas()
        if len(pdf) <= driver_vocab_rows:
            spark = df.sparkSession
            wf = sorted(zip(pdf["token"], (int(f) for f in pdf["freq"])))
            merges, vocab = _driver_bpe_merges(wf, n_merges)
            import pandas as pd

            vocab_pdf = pd.DataFrame(
                {"symbol": list(vocab.keys()), "freq": list(vocab.values())}
            )
            vocab_df = spark.createDataFrame(vocab_pdf, "symbol string, freq long")
            return merges, vocab_df
    state = words.select(
        "freq",
        F.expr("filter(split(token, ''), x -> x <> '')").alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            state.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .first()
        )
        if pairs is None:
            break
        a, b = pairs["a"], pairs["b"]
        merges.append((a, b))
        # localCheckpoint per step: without it each merge nests another
        # aggregate() around the previous plan (linear plan growth, and
        # re-execution of all prior merges on every action)
        state = state.select("freq", _apply_merge(F.col("syms"), a, b).alias("syms")).localCheckpoint(
            eager=True
        )
    vocab = (
        state.select("freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )
    return merges, vocab


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode text with a trained BPE merge list → (id, tokens array).

    Executor-side the classic way: real tokenizers (HF tokenizers,
    SentencePiece) are rank-table loops — this is an Arrow-batched pandas
    UDF whose closure ships a {pair: rank} dict once per executor; at 32k
    merges a plan-embedded fold per merge is not expressible. Per word it
    repeatedly merges the LOWEST-RANK pair present (dict lookups on the
    pairs in the word only, not a scan of the merge list): provably
    equivalent to rank-order application because a merge can only create
    pairs involving its own output symbol, whose rank is strictly later.
    Each distinct word encodes once per batch via memo.

    Tokenization parity with the trainer: Java regex \\s is ASCII-only,
    so the split here uses re.ASCII — Python's default Unicode str.split
    would split on U+00A0 etc. where ``_tokens`` does not, silently
    desynchronizing encoder and vocabulary (differential-tested)."""
    import re

    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    mlist = list(merges)

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) >= 2:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            a, b = mlist[best]
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return syms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode(texts):
        import pandas as pd

        memo: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in re.split(r"\s+", (t or "").lower().strip(), flags=re.ASCII):
                if not w:
                    continue
                if w not in memo:
                    memo[w] = encode_word(w)
                toks.extend(memo[w])
            out.append(toks)
        return pd.Series(out)

    return df.select(F.col(id_col), encode(F.col(text_col)).alias("tokens"))


# ----------------------------------------------------- unigram LM tokenizer
def unigram_seed_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    top_n: int = 20,
) -> DataFrame:
    """Seed-candidate counting for unigram-LM tokenizer training (the
    SentencePiece vocabulary family; Kudo 2018): frequency of every
    substring of length 2..max_piece_len across the corpus, weighted by
    word frequency — the distributed step that bounds the rest of
    training. Same shuffle shape as bpe_pair_counts: one corpus-wide
    token count (partial-aggregated), then substring explosion over the
    |vocab|-row word table (× avg_len × piece lengths), never over the
    raw token stream. Top-n is TakeOrderedAndProject."""
    words = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("token") >= 2)
    )
    subs = words.select(
        F.col("freq"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(2, {int(max_piece_len)}), n ->"
                " CASE WHEN length(token) >= n THEN"
                " transform(sequence(1, length(token) - n + 1),"
                " i -> substring(token, i, n)) ELSE array() END))"
            )
        ).alias("piece"),
    )
    return (
        subs.groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("piece_count"))
        .orderBy(F.desc("piece_count"), F.asc("piece"))
        .limit(top_n)
    )


def _viterbi_segment(word: str, logp: dict, max_len: int) -> tuple[list, float]:
    """Best segmentation of one word under piece log-probs: maximize the
    logp sum; equal scores prefer the LONGER last piece (deterministic).
    Characters absent from the vocabulary segment as themselves at
    UNK_LOGP so reconstruction always holds."""
    UNK = -1e9
    n = len(word)
    best = [(-float("inf"), -1)] * (n + 1)
    best[0] = (0.0, -1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_len), j):
            if best[i][0] == -float("inf"):
                continue
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                if j - i > 1:
                    continue
                lp = UNK  # single unknown char: always segmentable
            cand = best[i][0] + lp
            # strictly-greater keeps the SMALLEST i on ties -> longer last
            # piece (i iterates ascending, first winner kept)
            if cand > best[j][0]:
                best[j] = (cand, i)
    out, j = [], n
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out, best[n][0]


def train_unigram(
    df: DataFrame,
    vocab_size: int = 120,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 5,
    seed_multiplier: int = 3,
    em_iters: int = 3,
) -> tuple[DataFrame, list]:
    """Unigram-LM tokenizer training (the SentencePiece family; Kudo
    2018), distributed the way the word-frequency bound allows: the
    corpus is scanned ONCE into the (word, freq) table; every EM
    iteration is one Arrow-batched pass over that vocab-bounded table
    (forward-backward per word inside the UDF — each word is a
    ≤chars-long lattice, pure python-local work) plus one piece-keyed
    aggregation whose output is VOCAB-sized, collected to the driver for
    the M-step and prune decisions (≤ seed_multiplier×vocab_size rows —
    bounded by construction, the same collect discipline as the ANN
    centroid tables).

    Simplifications vs the reference implementation, documented rather
    than hidden: plain MLE M-step (no digamma/Bayesian smoothing), and
    pruning keeps the top multi-char pieces by expected count (rounded
    to 6dp, piece-ascending tiebreak) instead of the exact
    loss-difference ranking — deterministic and order-stable where the
    float-sum alternative is not. Single characters are never pruned, so
    every word stays segmentable. Returns (pieces_df(piece, logp),
    corpus-NLL per EM iteration — non-increasing, property-tested)."""
    import math

    words = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )
    # seed: every single char (the segmentability floor) + the top
    # multi-char substrings by corpus frequency
    chars = {
        r["piece"]: int(r["cnt"])
        for r in words.select(
            F.explode(F.expr("filter(split(token, ''), x -> x <> '')")).alias(
                "piece"
            ),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    }
    n_multi_seed = max(0, seed_multiplier * vocab_size - len(chars))
    multi = {
        r["piece"]: int(r["piece_count"])
        for r in unigram_seed_counts(
            df, id_col, text_col, max_piece_len, n_multi_seed
        ).collect()
    }
    counts = dict(chars)
    counts.update({p: c for p, c in multi.items() if p not in counts})
    total = float(sum(counts.values()))
    logp = {p: math.log(c / total) for p, c in counts.items()}

    n_multi_target = max(0, vocab_size - len(chars))
    nlls: list = []
    spark = df.sparkSession
    for it in range(em_iters):
        cur = dict(logp)  # closure snapshot shipped to the executors
        mpl = int(max_piece_len)

        def estep(batches, _cur=cur, _mpl=mpl):
            import collections
            import math as m

            import pandas as pd

            for pdf in batches:
                acc: dict = collections.defaultdict(float)
                ll = 0.0
                for word, freq in zip(pdf["token"], pdf["freq"]):
                    n = len(word)
                    NEG = -float("inf")
                    alpha = [NEG] * (n + 1)
                    alpha[0] = 0.0
                    spans = []
                    for j in range(1, n + 1):
                        for i in range(max(0, j - _mpl), j):
                            lp = _cur.get(word[i:j])
                            if lp is None or alpha[i] == NEG:
                                continue
                            spans.append((i, j, lp))
                            a = alpha[i] + lp
                            alpha[j] = a if alpha[j] == NEG else (
                                max(alpha[j], a)
                                + m.log1p(m.exp(-abs(alpha[j] - a)))
                            )
                    if alpha[n] == NEG:
                        continue  # unsegmentable under current vocab
                    beta = [NEG] * (n + 1)
                    beta[n] = 0.0
                    for i in range(n - 1, -1, -1):
                        for j in range(i + 1, min(n, i + _mpl) + 1):
                            lp = _cur.get(word[i:j])
                            if lp is None or beta[j] == NEG:
                                continue
                            b = beta[j] + lp
                            beta[i] = b if beta[i] == NEG else (
                                max(beta[i], b)
                                + m.log1p(m.exp(-abs(beta[i] - b)))
                            )
                    f = float(freq)
                    ll += f * alpha[n]
                    for i, j, lp in spans:
                        if beta[j] == NEG:
                            continue
                        post = m.exp(alpha[i] + lp + beta[j] - alpha[n])
                        if post > 0.0:
                            acc[word[i:j]] += f * post
                yield pd.DataFrame(
                    {
                        "piece": list(acc.keys()) + ["\x00nll"],
                        "ec": list(acc.values()) + [-ll],
                    }
                )

        agg = (
            words.mapInPandas(estep, "piece string, ec double")
            .groupBy("piece")
            .agg(F.sum("ec").alias("ec"))
            .collect()
        )
        exp_counts = {r["piece"]: r["ec"] for r in agg}
        nlls.append(round(exp_counts.pop("\x00nll", 0.0), 6))
        # prune multi-char pieces toward the target, geometrically —
        # ranked by ROUNDED expected count (order-stable), chars immune
        ranked = sorted(
            (
                (round(c, 6), p)
                for p, c in exp_counts.items()
                if len(p) > 1 and c > 1e-12
            ),
            key=lambda t: (-t[0], t[1]),
        )
        keep_multi = (
            n_multi_target
            if it == em_iters - 1
            else max(n_multi_target, int(len(ranked) * 0.6))
        )
        kept = {p: c for c, p in ranked[:keep_multi]}
        for ch in chars:
            kept[ch] = max(round(exp_counts.get(ch, 0.0), 6), 1e-6)
        tot = float(sum(kept.values()))
        logp = {p: math.log(c / tot) for p, c in kept.items()}

    import pandas as pd

    out = pd.DataFrame(
        sorted(logp.items()), columns=["piece", "logp"]
    )
    return spark.createDataFrame(out, "piece string, logp double"), nlls


def unigram_encode(
    df: DataFrame,
    pieces: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "pieces",
    max_piece_len: int = 8,
) -> DataFrame:
    """Viterbi-encode documents with a trained unigram vocabulary:
    (id, array<string> pieces in document order). The expensive step runs
    once per DISTINCT word (pandas UDF over the vocab-bounded word table,
    piece table rides in the closure — it is vocab_size rows by
    construction), then joins back to the (id, position, word) stream and
    reassembles per-doc arrays with one grouped sort — the same
    distinct-word discipline as the BPE encoder. Unknown characters
    segment as themselves (reconstruction is total, property-tested)."""
    lp = {r["piece"]: float(r["logp"]) for r in pieces.collect()}
    mpl = int(max_piece_len)

    @F.pandas_udf("array<string>")
    def seg(tokens):
        import pandas as pd

        return pd.Series(
            [_viterbi_segment(t, lp, mpl)[0] for t in tokens]
        )

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')")
        ).alias("pos", "token"),
    )
    dw = toks.select("token").distinct().withColumn("__segs", seg(F.col("token")))
    return (
        toks.join(dw, "token")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("__segs")))
                    ),
                    lambda s: s["__segs"],
                )
            ).alias(out_col)
        )
    )


def kn_bigram_negative_logprob(
    df: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney BIGRAM
    model of the corpus — the serious tier of the CCNet-style perplexity
    quality filter (unigram add-one is `unigram_negative_logprob`). The
    published absolute-discount interpolation (Kneser & Ney 1995 /
    Chen & Goodman 1998):

        P(w2|w1) = (max(c(w1,w2) − D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1·)
        Pcont(w2) = (N1+(·,w2) + 1) / (B + V + 1)

    where c(w1·) is w1's BIGRAM-PREFIX count (so the denominator is
    never zero for an observed bigram), N1+ are distinct-continuation /
    distinct-history counts, B = distinct bigrams, V = vocab size. The
    +1/+V+1 floor on Pcont is the one documented deviation: it reserves
    mass so the formula stays total (and engine-exact) without held-out
    estimation. Scoring the training corpus itself means every scored
    bigram has observed components — the backoff term is exercised by
    LOW-count bigrams, not OOV.

    Everything is groupBy aggregates over the bigram stream + equi-joins
    back onto it (token-keyed shuffles, the 100 TB shape); the only
    broadcast is the 1-row (B, V) scalar frame — text_bm25's accepted
    corpus-stats pattern. Output: (doc_id, n_bigrams, avg_neg_logprob
    FLOOR-gridded to 4dp) for every document with ≥1 bigram; the grid
    absorbs summation-order ulps so the row is oracle-comparable.

    r12: the bigram stream is built from the token ARRAY with
    transform(sequence(...)) — adjacency inside a document is an array
    property, not a distributed one, so the per-doc lead-window (one
    full Exchange + Sort of the token stream before any counting) was
    pure overhead (guide §2.4 "remove shuffles outright"); same
    construction as docs_ngram_novelty. Identical bigram multiset per
    document."""
    base = df.select(
        F.col(id_col),
        F.expr(
            f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')"
        ).alias("__ws"),
    )
    big = (
        base.filter(F.size("__ws") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("__ws"), i).alias("w1"),
                        F.element_at(F.col("__ws"), i + 1).alias("w2"),
                    ),
                )
            ).alias("__bg"),
        )
        .select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )
    # Materialize the (vocab-scale, far smaller than the stream) bigram
    # count table ONCE per call of this function: bc feeds pref/cont/
    # stats/the join — left lazy, every one of those consumers re-derived
    # the whole corpus scan→tokenize→explode→groupBy chain (the
    # un-checkpointed plan held 10 parquet scans of `documents`;
    # localCheckpoint is the repo's intra-query materialization pattern,
    # cf. ivf_train_centroids). eager=True runs the build jobs at plan
    # construction; callers must not hold the returned DataFrame across
    # input changes (ADVICE r12).
    #
    # r13 (guide §6 read amplification): tokens of <2-token docs ride the
    # SAME build as degenerate (w1, NULL) rows — the main plan's separate
    # short-doc scan of `documents` for V is gone (2 documents scans → 1).
    # Real tokens are never NULL (filter x <> ''), so `w2 IS NULL` is an
    # unambiguous discriminator and bc excludes the padding rows exactly.
    grams_all = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("__ws"), i).alias("w1"),
                        F.element_at(F.col("__ws"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(
                F.transform(
                    F.col("__ws"),
                    lambda t: F.struct(
                        t.alias("w1"), F.lit(None).cast("string").alias("w2")
                    ),
                )
            )
        ).alias("__bg"),
    ).select(F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    bc_all = (
        grams_all.groupBy("w1", "w2")
        .agg(F.count("*").cast("double").alias("c12"))
        .localCheckpoint(eager=True)
    )
    bc = bc_all.filter(F.col("w2").isNotNull())
    pref = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1dot"), F.count("*").cast("double").alias("n1p_left")
    )
    cont = bc.groupBy("w2").agg(F.count("*").cast("double").alias("n1p_right"))
    # V without a corpus-wide explode→distinct pass (r12, guide §2.3):
    # every token of a ≥2-token doc appears in some bigram (position i is
    # w1 for i < n, w2 for i > 1), so the distinct-token set is exactly
    # the distinct keys of the pinned count table plus the tokens of
    # <2-token docs — which since r13 sit in the same pinned table as
    # (w1, NULL) rows. Vocab-scale work only; no second corpus scan.
    vocab = bc.select(F.explode(F.array("w1", "w2")).alias("w")).unionAll(
        bc_all.filter(F.col("w2").isNull()).select(F.col("w1").alias("w"))
    )
    stats = bc.agg(F.count("*").cast("double").alias("B")).crossJoin(
        vocab.agg(F.count_distinct("w").cast("double").alias("V"))
    )
    D = float(discount)
    p = (
        F.greatest(F.col("c12") - F.lit(D), F.lit(0.0))
        + F.lit(D)
        * F.col("n1p_left")
        * ((F.col("n1p_right") + 1.0) / (F.col("B") + F.col("V") + 1.0))
    ) / F.col("c1dot")
    return (
        big.join(bc, ["w1", "w2"])
        .join(pref, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (
                F.floor((-F.sum(F.log(p)) / F.count("*")) * 10000) / 10000
            ).alias("avg_neg_logprob"),
        )
    )


def kn_trigram_negative_logprob(
    df: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney TRIGRAM
    model of the corpus — the third tier of the perplexity quality filter
    (unigram add-one → KN bigram → KN trigram). The published recursion
    (Chen & Goodman 1998, eq. 4.24): the highest order uses raw counts,
    every lower order uses CONTINUATION counts ĉ(w2,w3) = N1+(·,w2,w3):

        P(w3|w1w2) = (max(c123 − D, 0) + D·N1+(w1w2·)·P2(w3|w2)) / c(w1w2·)
        P2(w3|w2)  = (max(ĉ(w2,w3) − D, 0) + D·N1+mid(w2)·Pc(w3)) / ĉ(w2,·)
        Pc(w3)     = (N1+(·,w3 in ĉ) + 1) / (B̂ + V + 1)

    with c(w1w2·) the trigram-prefix count (never zero for an observed
    trigram), N1+(w1w2·) the distinct-continuation count of the history,
    ĉ(w2,·) = N1+(·,w2,·), B̂ = distinct (w2,w3) pairs, V = vocab size.
    The +1/+V+1 floor on Pc is the same documented totality deviation as
    the bigram tier — it reserves mass so the formula is engine-exact
    without held-out estimation.

    Shape at 100 TB: the trigram stream explodes straight off the token
    array (no shuffle); every count table is a groupBy over it
    and every score component joins back by token-key equi-join; the only
    broadcast is the 1-row (B̂, V) scalar frame. Output: (doc_id,
    n_trigrams, avg_neg_logprob FLOOR-gridded to 4dp) for docs with ≥3
    tokens.

    r12: trigrams are built from the token ARRAY with
    transform(sequence(...)) instead of a per-doc lead-window — drops
    the Exchange + Sort of the whole token stream that preceded every
    count (guide §2.4 "remove shuffles outright"); identical trigram
    multiset per document (same construction as docs_ngram_novelty)."""
    base = df.select(
        F.col(id_col),
        F.expr(
            f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')"
        ).alias("__ws"),
    )
    tri = (
        base.filter(F.size("__ws") >= 3)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__ws") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("__ws"), i).alias("w1"),
                        F.element_at(F.col("__ws"), i + 1).alias("w2"),
                        F.element_at(F.col("__ws"), i + 2).alias("w3"),
                    ),
                )
            ).alias("__tg"),
        )
        .select(
            id_col,
            F.col("__tg.w1").alias("w1"),
            F.col("__tg.w2").alias("w2"),
            F.col("__tg.w3").alias("w3"),
        )
    )
    # Materialize the (vocab-scale) trigram count table ONCE per call of
    # this function: tc feeds pref12/chat/mid/cont3/stats AND the scoring
    # join — left lazy, every consumer re-derived the corpus
    # scan→tokenize→explode→groupBy chain (the un-checkpointed plan held
    # SIXTEEN parquet scans of `documents`). Same intra-query
    # localCheckpoint pattern as ivf_train_centroids; eager=True runs the
    # build jobs at plan construction, and callers must not hold the
    # returned DataFrame across input changes (ADVICE r12).
    #
    # r13 (guide §6 read amplification): tokens of <3-token docs ride the
    # SAME build as degenerate (w1, NULL, NULL) rows — the main plan's
    # separate short-doc scan of `documents` for V is gone (2 documents
    # scans → 1). Real tokens are never NULL (filter x <> ''), so
    # `w2 IS NULL` discriminates exactly and tc excludes the padding.
    grams_all = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__ws") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("__ws") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("__ws"), i).alias("w1"),
                        F.element_at(F.col("__ws"), i + 1).alias("w2"),
                        F.element_at(F.col("__ws"), i + 2).alias("w3"),
                    ),
                ),
            ).otherwise(
                F.transform(
                    F.col("__ws"),
                    lambda t: F.struct(
                        t.alias("w1"),
                        F.lit(None).cast("string").alias("w2"),
                        F.lit(None).cast("string").alias("w3"),
                    ),
                )
            )
        ).alias("__tg"),
    ).select(
        F.col("__tg.w1").alias("w1"),
        F.col("__tg.w2").alias("w2"),
        F.col("__tg.w3").alias("w3"),
    )
    tc_all = (
        grams_all.groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("double").alias("c123"))
        .localCheckpoint(eager=True)
    )
    tc = tc_all.filter(F.col("w2").isNotNull())
    pref12 = tc.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12dot"), F.count("*").cast("double").alias("n1p_12")
    )
    # chat feeds FOUR consumers (the scoring join, mid, cont3, Bhat) —
    # left lazy each one re-ran the tc→chat shuffle+aggregate (stage
    # profile: three redundant ~450 ms jobs per execution at sf0.1).
    # Materialize it once like tc: vocab-scale, rebuilt every execution.
    chat = (
        tc.groupBy("w2", "w3")
        .agg(F.count("*").cast("double").alias("chat23"))
        .localCheckpoint(eager=True)
    )
    mid = chat.groupBy("w2").agg(
        F.sum("chat23").alias("chat2dot"), F.count("*").cast("double").alias("n1p_mid")
    )
    cont3 = chat.groupBy("w3").agg(F.count("*").cast("double").alias("n1p_right"))
    # V from the pinned trigram table + short docs (r12, guide §2.3):
    # every token of a ≥3-token doc appears in some trigram column
    # (position i is w1 for i ≤ n−2, w2 at n−1, w3 at n), so distinct
    # tokens = distinct tc keys ∪ tokens of <3-token docs — which since
    # r13 sit in the same pinned table as (w1, NULL, NULL) rows. No
    # second corpus scan.
    vocab = tc.select(F.explode(F.array("w1", "w2", "w3")).alias("w")).unionAll(
        tc_all.filter(F.col("w2").isNull()).select(F.col("w1").alias("w"))
    )
    stats = chat.agg(F.count("*").cast("double").alias("Bhat")).crossJoin(
        vocab.agg(F.count_distinct("w").cast("double").alias("V"))
    )
    D = float(discount)
    pc = (F.col("n1p_right") + 1.0) / (F.col("Bhat") + F.col("V") + 1.0)
    p2 = (
        F.greatest(F.col("chat23") - F.lit(D), F.lit(0.0))
        + F.lit(D) * F.col("n1p_mid") * pc
    ) / F.col("chat2dot")
    p3 = (
        F.greatest(F.col("c123") - F.lit(D), F.lit(0.0))
        + F.lit(D) * F.col("n1p_12") * p2
    ) / F.col("c12dot")
    return (
        tri.join(tc, ["w1", "w2", "w3"])
        .join(pref12, ["w1", "w2"])
        .join(chat, ["w2", "w3"])
        .join(mid, "w2")
        .join(cont3, "w3")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            (
                F.floor((-F.sum(F.log(p3)) / F.count("*")) * 10000) / 10000
            ).alias("avg_neg_logprob"),
        )
    )


def build_phrase_automaton(phrases: list[str]) -> dict:
    """Token-level Aho-Corasick automaton over whitespace-tokenized
    phrases (the classic multi-pattern matcher): goto/fail/output tables
    built once on the driver, sized by total phrase tokens — a 100k-entry
    blocklist is a few MB riding the UDF closure, and matching is O(doc
    tokens), independent of dictionary size (the reason this beats m
    regexp_count passes for large m). Counts every occurrence, including
    self-overlapping ones ('batch batch' twice in 'batch batch batch')."""
    from collections import deque

    goto: list[dict[str, int]] = [{}]
    out: list[list[str]] = [[]]
    for phrase in phrases:
        toks = [t for t in phrase.lower().split() if t]
        if not toks:
            raise ValueError(f"empty phrase {phrase!r}")
        s = 0
        for t in toks:
            if t not in goto[s]:
                goto.append({})
                out.append([])
                goto[s][t] = len(goto) - 1
            s = goto[s][t]
        out[s].append(phrase)
    fail = [0] * len(goto)
    q = deque(goto[0].values())
    while q:
        s = q.popleft()
        for t, nxt in goto[s].items():
            q.append(nxt)
            f = fail[s]
            while f and t not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f][t] if t in goto[f] and goto[f][t] != nxt else 0
            out[nxt] = out[nxt] + out[fail[nxt]]
    return {"goto": goto, "fail": fail, "out": out}


def tag_phrases(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "phrase_hits",
) -> DataFrame:
    """Tag each document with its blocklist/taxonomy phrase occurrence
    counts: one Arrow-batched pass per row through the Aho-Corasick
    automaton (built once, shipped in the closure). Adds ``out_col`` as
    map<phrase, count> holding only matched phrases — compose with
    map_filter/size for filtering, or explode for per-phrase rollups.
    No shuffle, no join; a pure map over the corpus."""
    import pandas as pd

    aut = build_phrase_automaton(phrases)
    goto, fail, out = aut["goto"], aut["fail"], aut["out"]

    @F.pandas_udf("map<string,int>")
    def tag(texts):
        results = []
        for text in texts:
            counts: dict[str, int] = {}
            s = 0
            for t in (text or "").lower().split():
                while s and t not in goto[s]:
                    s = fail[s]
                s = goto[s].get(t, 0)
                for p in out[s]:
                    counts[p] = counts.get(p, 0) + 1
            results.append(counts)
        return pd.Series(results)

    return df.withColumn(out_col, tag(F.col(text_col)))


def _wp_mark(word: str) -> list[str]:
    """A word as canonical WordPiece initial symbols: first char bare,
    continuations ##-prefixed."""
    return [word[0]] + ["##" + c for c in word[1:]]


def _driver_wordpiece_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Reference in-memory WordPiece merge loop (the BERT trainer's
    objective): winner maximizes score(a,b) = count(ab) /
    (count(a)·count(b)) — the likelihood GAIN of merging, which prefers
    pairs whose parts rarely occur apart — with (score DESC, a ASC,
    b ASC) tie-break. Counts are corpus-weighted; symbol counts update
    incrementally per merge. Argmax is a full scan of the live pair
    table per merge (O(pairs)) — kept as the oracle for
    ``_driver_wordpiece_merges_fast`` (the heap path train_wordpiece
    actually runs), equality-tested against it.

    Returns (merges, vocab): ordered merge list (pairs of marked
    symbols) and the final symbol → weighted-count vocabulary."""
    syms: list[list[str]] = [_wp_mark(w) for w, _ in word_freqs]
    freqs: list[int] = [f for _, f in word_freqs]

    def word_pairs(s: list[str]) -> dict[tuple[str, str], int]:
        out: dict[tuple[str, str], int] = {}
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            out[p] = out.get(p, 0) + 1
        return out

    counts: dict[tuple[str, str], int] = {}
    occur: dict[tuple[str, str], set[int]] = {}
    sym_counts: dict[str, int] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for x in s:
            sym_counts[x] = sym_counts.get(x, 0) + f
        for p, c in word_pairs(s).items():
            counts[p] = counts.get(p, 0) + c * f
            occur.setdefault(p, set()).add(idx)

    def merged_symbol(a: str, b: str) -> str:
        return a + (b[2:] if b.startswith("##") else b)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        best_key = None
        for (a, b), c in counts.items():
            if c <= 0:
                continue
            score = c / (sym_counts[a] * sym_counts[b])
            key = (-score, a, b)
            if best_key is None or key < best_key:
                best_key = key
                best = (a, b)
        if best is None:
            break
        a, b = best
        merges.append(best)
        new_sym = merged_symbol(a, b)
        for idx in list(occur.get(best, ())):
            f = freqs[idx]
            s = syms[idx]
            old = word_pairs(s)
            out: list[str] = []
            n_applied = 0
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = new_sym
                    n_applied += 1
                else:
                    out.append(x)
            syms[idx] = out
            # symbol counts: each application consumes one a and one b,
            # produces one new_sym
            if n_applied:
                sym_counts[a] = sym_counts.get(a, 0) - n_applied * f
                sym_counts[b] = sym_counts.get(b, 0) - n_applied * f
                sym_counts[new_sym] = sym_counts.get(new_sym, 0) + n_applied * f
            new = word_pairs(out)
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    counts[p] = counts.get(p, 0) + d * f
                    if counts[p] <= 0:
                        counts.pop(p, None)
                if new.get(p, 0) == 0:
                    occ = occur.get(p)
                    if occ is not None:
                        occ.discard(idx)
                elif old.get(p, 0) == 0:
                    occur.setdefault(p, set()).add(idx)
    vocab: dict[str, int] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for x in s:
            vocab[x] = vocab.get(x, 0) + f
    return merges, vocab


def _driver_wordpiece_merges_fast(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Heap-scheduled WordPiece merge loop — the BPE lazy-heap discipline
    (_driver_bpe_merges) adapted to the score objective. The WordPiece
    wrinkle: score(a,b) = count(ab)/(count(a)·count(b)) can RISE when a
    merge shrinks a denominator symbol's count, so plain lazy
    invalidation (skip stale pops) is unsound — a stale-LOW entry at the
    top can hide the true max. Remedy: a symbol→pairs index; every merge
    re-pushes the pairs touching any symbol whose count changed (a, b,
    the merged symbol, plus pairs whose own count moved), each stamped
    with the (c, ca, cb) triple it was scored from. A popped entry is
    valid iff its triple still matches the live counts — exact, no float
    drift vs the scan oracle, which this function is equality-tested
    against. Per-merge cost is the touched neighborhood, not O(pairs):
    a 32k-merge train drops from hours (full scan per merge) to seconds.

    Identical contract to ``_driver_wordpiece_merges``."""
    import heapq

    syms: list[list[str]] = [_wp_mark(w) for w, _ in word_freqs]
    freqs: list[int] = [f for _, f in word_freqs]

    def word_pairs(s: list[str]) -> dict[tuple[str, str], int]:
        out: dict[tuple[str, str], int] = {}
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            out[p] = out.get(p, 0) + 1
        return out

    counts: dict[tuple[str, str], int] = {}
    occur: dict[tuple[str, str], set[int]] = {}
    sym_counts: dict[str, int] = {}
    by_sym: dict[str, set[tuple[str, str]]] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for x in s:
            sym_counts[x] = sym_counts.get(x, 0) + f
        for p, c in word_pairs(s).items():
            counts[p] = counts.get(p, 0) + c * f
            occur.setdefault(p, set()).add(idx)
            by_sym.setdefault(p[0], set()).add(p)
            by_sym.setdefault(p[1], set()).add(p)

    def push(p: tuple[str, str]) -> None:
        c = counts.get(p, 0)
        if c <= 0:
            return
        ca, cb = sym_counts[p[0]], sym_counts[p[1]]
        heapq.heappush(heap, (-(c / (ca * cb)), p[0], p[1], c, ca, cb))

    heap: list[tuple[float, str, str, int, int, int]] = []
    for p in counts:
        push(p)

    def merged_symbol(a: str, b: str) -> str:
        return a + (b[2:] if b.startswith("##") else b)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        while heap:
            _, a, b, c, ca, cb = heap[0]
            if (
                counts.get((a, b), 0) == c
                and sym_counts.get(a) == ca
                and sym_counts.get(b) == cb
            ):
                best = (a, b)
                break
            heapq.heappop(heap)
        if best is None:
            break
        a, b = best
        merges.append(best)
        new_sym = merged_symbol(a, b)
        changed_syms = {a, b, new_sym}
        changed_pairs: set[tuple[str, str]] = set()
        for idx in list(occur.get(best, ())):
            f = freqs[idx]
            s = syms[idx]
            old = word_pairs(s)
            out: list[str] = []
            n_applied = 0
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = new_sym
                    n_applied += 1
                else:
                    out.append(x)
            syms[idx] = out
            if n_applied:
                sym_counts[a] = sym_counts.get(a, 0) - n_applied * f
                sym_counts[b] = sym_counts.get(b, 0) - n_applied * f
                sym_counts[new_sym] = (
                    sym_counts.get(new_sym, 0) + n_applied * f
                )
            new = word_pairs(out)
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    counts[p] = counts.get(p, 0) + d * f
                    changed_pairs.add(p)
                    if counts[p] <= 0:
                        counts.pop(p, None)
                    else:
                        by_sym.setdefault(p[0], set()).add(p)
                        by_sym.setdefault(p[1], set()).add(p)
                if new.get(p, 0) == 0:
                    occ = occur.get(p)
                    if occ is not None:
                        occ.discard(idx)
                elif old.get(p, 0) == 0:
                    occur.setdefault(p, set()).add(idx)
        # re-score everything whose numerator OR a denominator moved
        for x in changed_syms:
            changed_pairs.update(by_sym.get(x, ()))
        for p in changed_pairs:
            if counts.get(p, 0) <= 0:
                by_sym.get(p[0], set()).discard(p)
                by_sym.get(p[1], set()).discard(p)
                occur.pop(p, None)
            else:
                push(p)
    vocab: dict[str, int] = {}
    for idx, s in enumerate(syms):
        f = freqs[idx]
        for x in s:
            vocab[x] = vocab.get(x, 0) + f
    return merges, vocab


def train_wordpiece(
    df: DataFrame,
    n_merges: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    driver_vocab_rows: int = 2_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """WordPiece tokenizer training — the third tokenizer family next to
    BPE (count-greedy) and unigram-LM (EM/Viterbi). Same distributed
    shape as train_bpe: the corpus is touched exactly ONCE (tokenize +
    word-frequency groupBy — at 100 TB that scan dominates); the merge
    loop runs driver-side over the vocab-bounded word table behind the
    same explicit row-bound guard.

    Returns (merges, vocab_df) with vocab as (piece, freq) rows in
    canonical ##-marked form — feed it straight to wordpiece_encode."""
    words = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    probe = words.limit(int(driver_vocab_rows) + 1).toPandas()
    if len(probe) > driver_vocab_rows:
        raise ValueError(
            f"train_wordpiece: word-frequency table exceeds the "
            f"{driver_vocab_rows}-row driver bound; raise driver_vocab_rows "
            f"or pre-filter rare words"
        )
    pairs = sorted(zip(probe["token"], (int(x) for x in probe["freq"])))
    merges, vocab = _driver_wordpiece_merges_fast(pairs, n_merges)
    spark = df.sparkSession
    vocab_df = spark.createDataFrame(
        sorted(vocab.items()), "piece string, freq long"
    )
    return merges, vocab_df


def wordpiece_encode(
    df: DataFrame,
    vocab: DataFrame | set,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "pieces",
    unk: str = "[UNK]",
    max_word_chars: int = 200,
) -> DataFrame:
    """Greedy longest-match WordPiece encoding (the BERT inference
    tokenizer): each word is consumed left-to-right taking the LONGEST
    vocab piece at each position (##-marked after the first); a word
    with any unencodable remainder becomes [UNK] whole, words longer
    than ``max_word_chars`` likewise (the BERT rule). Runs once per
    DISTINCT word (the unigram_encode discipline) then joins back to the
    token stream and reassembles per-doc arrays with one grouped sort."""
    if not isinstance(vocab, set):
        vocab = {r["piece"] for r in vocab.collect()}

    def encode_word(w: str) -> list[str]:
        if len(w) > max_word_chars:
            return [unk]
        out: list[str] = []
        i = 0
        while i < len(w):
            j = len(w)
            piece = None
            while j > i:
                cand = w[i:j] if i == 0 else "##" + w[i:j]
                if cand in vocab:
                    piece = cand
                    break
                j -= 1
            if piece is None:
                return [unk]
            out.append(piece)
            i = j
        return out

    @F.pandas_udf("array<string>")
    def seg(tokens):
        import pandas as pd

        return pd.Series([encode_word(t) for t in tokens])

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x <> '')")
        ).alias("pos", "token"),
    )
    dw = toks.select("token").distinct().withColumn("__segs", seg(F.col("token")))
    return (
        toks.join(dw, "token")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("__segs")))
                    ),
                    lambda s: s["__segs"],
                )
            ).alias(out_col)
        )
    )
