"""Text-analysis queries over the documents table: quality scoring,
heuristic language-ID, token statistics, and document fingerprinting.
All built-in expressions (codegen), all DuckDB-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chainhouse_spark.functions.text import (
    LANG_STOPWORDS,
    digit_ratio,
    fingerprint,
    n_tokens,
    punct_ratio,
    stopword_hits_sql,
    stopword_ratio,
)
from chainhouse_spark.functions.rounding import round9
from chainhouse_spark.queries.registry import FRUGAL_ORACLE, register
from chainhouse_spark.tables import load_table


def _duck_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_DUCK_HITS = {
    lang: f"len(list_filter(string_split(text, ' '), w -> list_contains({_duck_list(ws)}, w)))"
    for lang, ws in LANG_STOPWORDS.items()
}


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           (ROUND((CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))) * 1e9) / 1e9 + 0.0) AS avg_token_len,
           (ROUND((CAST({_DUCK_HITS['en']} AS DOUBLE) / len(string_split(text, ' '))) * 1e9) / 1e9 + 0.0) AS stopword_ratio,
           CAST(LENGTH(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
           CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / LENGTH(text) AS digit_ratio,
           (ROUND((LEAST(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
             + (CAST({_DUCK_HITS['en']} AS DOUBLE) / len(string_split(text, ' '))) * 0.3
             + (1.0 - CAST(LENGTH(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH(text)) * 0.2
             ) * 1e9) / 1e9 + 0.0) AS quality_score
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + a composite score — the filter stage of a
    training-data pipeline. Single map-only pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    nt = n_tokens("text")
    sw = stopword_ratio("text", LANG_STOPWORDS["en"])
    pr = punct_ratio("text")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        nt.alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / nt,
            9,
        ).alias("avg_token_len"),
        round9(sw).alias("stopword_ratio"),
        pr.alias("punct_ratio"),
        digit_ratio("text").alias("digit_ratio"),
        F.round(
            F.least(F.lit(1.0), nt / 100.0) * 0.5
            + sw * 0.3
            + (F.lit(1.0) - pr) * 0.2,
            9,
        ).alias("quality_score"),
    )


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id,
           {_DUCK_HITS['en']} AS hits_en,
           {_DUCK_HITS['de']} AS hits_de,
           {_DUCK_HITS['fr']} AS hits_fr,
           {_DUCK_HITS['es']} AS hits_es,
           CASE
               WHEN {_DUCK_HITS['en']} >= {_DUCK_HITS['de']}
                AND {_DUCK_HITS['en']} >= {_DUCK_HITS['fr']}
                AND {_DUCK_HITS['en']} >= {_DUCK_HITS['es']} THEN 'en'
               WHEN {_DUCK_HITS['de']} >= {_DUCK_HITS['fr']}
                AND {_DUCK_HITS['de']} >= {_DUCK_HITS['es']} THEN 'de'
               WHEN {_DUCK_HITS['fr']} >= {_DUCK_HITS['es']} THEN 'fr'
               ELSE 'es'
           END AS predicted_lang
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language classifier with a deterministic argmax
    (ties break toward en > de > fr > es)."""
    d = load_table(spark, sf_dir, "documents")
    hits = {
        lang: F.expr(stopword_hits_sql("text", ws)) for lang, ws in LANG_STOPWORDS.items()
    }
    pred = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]),
            "en",
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        hits["en"].alias("hits_en"),
        hits["de"].alias("hits_de"),
        hits["fr"].alias("hits_fr"),
        hits["es"].alias("hits_es"),
        pred.alias("predicted_lang"),
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           (ROUND((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' '))) * 1e9) / 1e9 + 0.0) AS type_token_ratio,
           (LENGTH(text) + 3) // 4 AS approx_bpe_tokens
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace, regex word extraction, unique tokens,
    type-token ratio, and the chars/4 BPE heuristic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("n_re_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        round9(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("type_token_ratio"),
        F.expr("(LENGTH(text) + 3) div 4").alias("approx_bpe_tokens"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             (CAST(tf AS DOUBLE) / dlen)
               * ((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS tfidf
      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, (ROUND((tfidf) * 1e9) / 1e9 + 0.0) AS tfidf, CAST(rn AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) t
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction stage of a
    corpus index. The idf factor is the BM25-style rational form
    (N - df + 0.5)/(df + 0.5) rather than ln(N/df): transcendental
    functions are not guaranteed correctly-rounded, so ln() differs in the
    last ulp across engines; the rational form is bit-identical and
    preserves the ranking.

    Everything derives from ONE term-frequency aggregate: doc length is
    SUM(tf) per doc, document frequency is the per-term row count of tf —
    no second tokenize pass. At 100 TB the tf relation is the thing to
    persist/checkpoint; df is tiny (vocabulary-sized) and broadcasts back,
    and the final per-doc top-3 window shuffles on doc_id only.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df and dlen as windows over the ONE tf aggregate — no branch recompute,
    # no second tokenize pass: shuffles are (doc,term) -> term -> doc, and the
    # final rank window reuses the doc_id partitioning.
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy("doc_id")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .withColumn("dlen", F.sum("tf").over(w_doc))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf").cast("double") / F.col("dlen"))
                * ((F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", round9("tfidf").alias("tfidf"), "rank")
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 4) AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint + 16-bit prefix bucket (shard key for
    distributed dedup index)."""
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint("text")
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 4).alias("fp_bucket")
    )


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@register(
    "text_pii_redaction",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM enriched
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the mandatory pre-training redaction pass. Emails and
    phone-shaped tokens are counted then masked with regexp_replace. The
    fixture corpus carries no PII, so deterministic synthetic contact lines
    are appended per doc first (same construction in the oracle); patterns
    stay in the RE2 ∩ Java-regex common subset (no lookarounds/backrefs) so
    both engines match identically. Map-only: zero shuffles at any scale."""
    d = load_table(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        F.expr(
            "text || ' contact user' || CAST(doc_id AS STRING)"
            " || '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
            " || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
        ).alias("text"),
    )
    # Column-API regex (not F.expr): Spark SQL string literals process
    # backslash escapes, which would corrupt \b in an inline pattern.
    return enriched.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE), F.lit(0))
        ).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )


@register(
    "vocab_build",
    oracle=f"""{FRUGAL_ORACLE}
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    df AS (
        SELECT token, COUNT(*) AS doc_freq FROM tok
        WHERE token <> '' GROUP BY token
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token ASC) - 1 AS INT)
             AS token_id,
           token, doc_freq
    FROM df
    ORDER BY token_id
    LIMIT 1000
    """,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary construction (tokenizer prep): document
    frequency per token, ids assigned by (df DESC, token ASC) — a total
    order, so ids are reproducible. The distinct and the count share one
    token-hash partitioning; the vocab is capped FIRST via ordered limit
    (TakeOrderedAndProject — distributed per-partition top-k), so the
    id-assignment window sees only the 1000-row head, never all distinct
    tokens (the round-5 scale audit's unpartitioned-window class)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    df_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    from pyspark.sql import Window

    # Rows with row_number <= 1000 under a total order ARE the ordered-
    # limit-1000 set, so ranking after the cap is value-identical.
    top = df_counts.orderBy(F.desc("doc_freq"), F.asc("token")).limit(1000)
    w = Window.orderBy(F.desc("doc_freq"), F.asc("token"))
    return top.select(
        (F.row_number().over(w) - 1).cast("int").alias("token_id"),
        "token",
        "doc_freq",
    ).orderBy("token_id")


_FH_BUCKETS = 64


@register(
    "feature_hashing_vectorize",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 100
    ),
    bucketed AS (
        SELECT doc_id,
               ((strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1))
               % {_FH_BUCKETS} AS bucket
        FROM tok WHERE token <> ''
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS weight
    FROM bucketed
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, 'Feature
    hashing for large scale multitask learning'): every token maps to one
    of 64 buckets by md5, and a document's feature vector is the bucket
    count histogram — emitted in sparse (doc_id, bucket, weight) form,
    the layout a trainer's sparse-matrix loader ingests directly.

    Vocabulary-free by design: no dictionary to build, broadcast, or keep
    consistent across corpus versions — the mapping is a pure hash, so
    features are stable under corpus growth (same property as the hash
    samplers). One tokenize pass, map-side bucket assignment, one
    (doc_id, bucket)-keyed hash aggregation; the shuffle carries two ints
    and a count per nonzero, never tokens. md5-derived buckets reproduce
    exactly in the oracle."""
    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 100")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter("token <> ''")
    bucketed = tok.select(
        "doc_id",
        F.expr(
            f"CAST(CAST(conv(substring(md5(token), 1, 2), 16, 10) AS BIGINT)"
            f" % {_FH_BUCKETS} AS INT)"
        ).alias("bucket"),
    )
    return (
        bucketed.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("weight"))
        .orderBy("doc_id", "bucket")
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    big AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM big),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c FROM big GROUP BY w1),
    c2 AS (SELECT w2, COUNT(*) AS c FROM big GROUP BY w2)
    SELECT c12.w1, c12.w2, CAST(c12.c AS BIGINT) AS n_pair,
           ROUND(LOG10(CAST(c12.c AS DOUBLE) * n.n
                       / (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE))), 6)
             AS pmi
    FROM c12, n
    JOIN c1 ON c12.w1 = c1.w1
    JOIN c2 ON c12.w2 = c2.w2
    WHERE c12.c >= 5
    ORDER BY pmi DESC, c12.w1 ASC, c12.w2 ASC LIMIT 50
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: the 50 most
    associated adjacent word pairs (min support 5) — the phrase-extraction
    step feeding tokenizer merge candidates and stopword curation.
    PMI = log( P(w1,w2) / (P(w1) P(w2)) ) from exact bigram/unigram
    counts, rounded to 6 decimals for the cross-engine hash; position-1
    unigram and position-2 unigram margins are kept separate (asymmetric,
    the textbook definition for ordered bigrams).

    Scale: one tokenize pass, bigram expansion map-side, three partial-agg
    count shuffles; margins join back on their word keys (AQE handles the
    stopword skew); the min-support filter prunes the long tail BEFORE
    the joins; the rank is TakeOrderedAndProject(50)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    big = (
        d.select(ws.alias("ws"))
        # Round-12: the >=2 guard (sequence(1, 0) would REVERSE) is fused
        # into the explode — a .filter() on the projected token array
        # pushed below the projection and re-tokenized every document in
        # the Filter node (split(text) 12 -> 8 plan occurrences; the
        # remaining ones are per-branch, CSE'd within their Project).
        .select(
            F.expr(
                "explode(transform("
                "CASE WHEN size(ws) >= 2 THEN sequence(1, size(ws) - 1) "
                "ELSE array() END, "
                "i -> struct(element_at(ws, i) AS w1, "
                "element_at(ws, i + 1) AS w2)))"
            ).alias("pr")
        )
        .select("pr.w1", "pr.w2")
    )
    # Round-12 W11: margins and total are the row/column sums of the
    # JOINT counts — c1(w1) = Σ_w2 c12, c2(w2) = Σ_w1 c12, n = Σ c12 —
    # so one checkpointed joint-count table replaces three more
    # tokenize+expansion passes over the corpus (4 -> 1 tokenize passes;
    # the margin aggregates now shuffle the count-reduced distinct-bigram
    # table, not corpus-sized bigram instances). Values identical by the
    # marginalization identity; wall-neutral at sf0.1 (three interleaves:
    # medians 0.630 vs 0.642 s), taken for the structural win.
    c12_all = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    c12 = c12_all.filter(F.col("c") >= 5)
    c1 = c12_all.groupBy("w1").agg(F.sum("c").alias("c1"))
    c2 = c12_all.groupBy("w2").agg(F.sum("c").alias("c2"))
    n = c12_all.agg(F.sum("c").cast("double").alias("n"))
    # rounded DOUBLE, not DECIMAL: nothing is summed downstream, and the
    # 6-decimal round already absorbs the cross-engine log10 ulp — a
    # decimal output would only reintroduce scale-formatting mismatches.
    pmi = F.round(
        F.log10(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    return (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", F.col("c").cast("bigint").alias("n_pair"), pmi.alias("pmi")
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


@register(
    "corpus_zipf_fit",
    oracle="""
    WITH tok AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    top AS (
        SELECT w, c FROM cnt ORDER BY c DESC, w ASC LIMIT 1000
    ),
    ranked AS (
        SELECT w, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rk
        FROM top
    ),
    pts AS (
        SELECT CAST(ROUND(LN(CAST(rk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
               CAST(ROUND(LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y,
               w, c, rk
        FROM ranked
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               MAX(CASE WHEN rk = 1 THEN w END) AS top_token,
               CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top_count
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           top_token, top_count,
           (ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e9) / 1e9 + 0.0) AS zipf_slope,
           (ROUND((((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)))
           * ((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)))) * 1e9) / 1e9 + 0.0) AS r2
    FROM m
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: OLS slope of
    ln(freq) ~ ln(rank) with its r² — natural language sits near slope -1
    with high r², so a corpus that drifts (template spam, truncated
    vocabulary, synthetic filler) shows up as a slope/fit anomaly before
    training does. One tokenize shuffle for counts; the top-1000 cut is
    TakeOrderedAndProject (never a global sort of the vocabulary); each
    ln is rounded-then-DECIMAL so the exact-decimal power sums feed both
    engines identical doubles."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    cnt = (
        d.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = cnt.orderBy(F.desc("c"), F.asc("w")).limit(1000)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    )
    x = F.round(F.log(F.col("rk").cast("double")), 6).cast("decimal(12,6)")
    y = F.round(F.log(F.col("c").cast("double")), 6).cast("decimal(12,6)")
    pts = ranked.select(x.alias("x"), y.alias("y"), "w", "c", "rk")
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.max(F.when(F.col("rk") == 1, F.col("w"))).alias("top_token"),
        F.max(F.when(F.col("rk") == 1, F.col("c"))).cast("bigint").alias("top_count"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        n.cast("bigint").alias("n_points"),
        "top_token",
        "top_count",
        round9((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("zipf_slope"),
        round9(corr * corr).alias("r2"),
    )


@register(
    "text_hapax_ratio",
    oracle=f"""{FRUGAL_ORACLE}
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    tf AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dis_legomena,
           (ROUND((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             ) * 1e9) / 1e9 + 0.0) AS hapax_ratio
    FROM tf GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per source: the fraction of vocabulary seen
    exactly once (and twice — dis legomena). Natural text runs ~40-60%
    hapax (Zipf's tail); template/generated text collapses far below, and
    OCR noise inflates it — the corpus-naturalness diagnostic that pairs
    with `corpus_zipf_fit` (slope) by reading the tail instead of the
    head. One tokenize pass, one (source, word) count shuffle, then a
    |vocab|-row rollup — exact integers to the single final division."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dis_legomena"),
        F.expr(
            "(ROUND((CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
            " / COUNT(*)) * 1e9) / 1e9 + 0.0)"
        ).alias("hapax_ratio"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(
                   string_split(text, ' '),
                   w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subwords
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
           ROUND(CAST(SUM(n_subwords) AS DOUBLE) / SUM(n_words), 9)
             AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens emitted per whitespace word) per
    language — the standard multilingual-tokenizer health metric: high
    fertility means a language is being shredded into tiny pieces and
    will under-train at a fixed token budget. The subword count is the
    deterministic fixed-fanout proxy ceil(len/4) per word (a trained BPE
    emits ~1 token per ~4 chars of a well-covered language), integer
    arithmetic end-to-end so both engines agree exactly; the real
    BPE-merge encoder lives in bpe_encode_compression. Map-side fold per
    document, one lang-keyed aggregate — no shuffle wider than |langs|."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(transform(split(text, ' '), "
            "w -> (length(w) + 3) div 4), 0L, (acc, x) -> acc + x)"
        )
        .cast("bigint")
        .alias("n_subwords"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_subwords").cast("bigint").alias("total_subwords"),
        F.round(
            F.sum("n_subwords").cast("double") / F.sum("n_words"), 9
        ).alias("fertility"),
    )


@register(
    "text_sentence_stats",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, '. ')) AS BIGINT) AS n_sents,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sents) AS BIGINT) AS total_sentences,
           ROUND(CAST(SUM(n_sents) AS DOUBLE) / COUNT(*), 9)
             AS sentences_per_doc,
           ROUND(CAST(SUM(n_words) AS DOUBLE) / SUM(n_sents), 9)
             AS words_per_sentence
    FROM per_doc GROUP BY lang
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length profile per language: documents segmented at the
    literal '. ' boundary (deliberately NOT a regex — Spark and DuckDB
    regex dialects diverge on class escapes, and the literal split is
    identical in both; the trade-off is abbreviations count as
    boundaries, acceptable for a corpus-level profile). Long sentences
    per doc + short words per sentence is the classic low-quality-text
    signature (run-on machine text vs. chopped boilerplate). Map-side
    splits, one lang-keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.col("text"), "\\. ", -1)).cast("bigint").alias("n_sents"),
        F.size(F.split(F.col("text"), " ", -1)).cast("bigint").alias("n_words"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sents").cast("bigint").alias("total_sentences"),
        F.round(F.sum("n_sents").cast("double") / F.count(F.lit(1)), 9).alias(
            "sentences_per_doc"
        ),
        F.round(F.sum("n_words").cast("double") / F.sum("n_sents"), 9).alias(
            "words_per_sentence"
        ),
    )


@register(
    "text_readability_fk",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
               CAST(len(string_split(text, '. ')) AS BIGINT) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS syl
        FROM documents
    ),
    scored AS (
        SELECT lang,
               CAST(ROUND(0.39 * (CAST(w AS DOUBLE) / s)
                          + 11.8 * (CAST(syl AS DOUBLE) / w)
                          - 15.59, 6) AS DECIMAL(18,6)) AS fk
        FROM per_doc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (ROUND((CAST(CAST(SUM(fk) AS DECIMAL(28,6)) AS DOUBLE) / COUNT(*)
             ) * 1e9) / 1e9 + 0.0) AS mean_fk_grade,
           CAST(MIN(fk) AS DOUBLE) AS min_fk,
           CAST(MAX(fk) AS DOUBLE) AS max_fk
    FROM scored GROUP BY lang
    """,
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level profile per language: 0.39*(words/
    sentence) + 11.8*(syllables/word) - 15.59, with syllables counted as
    vowel groups ([aeiouy]+ — the standard cheap proxy; a character
    class without escapes, so Spark and DuckDB regex dialects agree) and
    sentences at the literal '. ' boundary (text_sentence_stats'
    rationale). Per-document grades are ratios of exact integers rounded
    to 6 decimals THEN decimal-summed, so the per-lang mean is order-
    independent. The quality-filtering companion to text_quality_scores:
    grade-level outliers in a web corpus are boilerplate or word salad.
    Map-side regex + one lang-keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ", -1)).cast("bigint").alias("w"),
        F.size(F.split(F.col("text"), "\\. ", -1)).cast("bigint").alias("s"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')")
        .cast("bigint")
        .alias("syl"),
    )
    fk = F.round(
        0.39 * (F.col("w").cast("double") / F.col("s"))
        + 11.8 * (F.col("syl").cast("double") / F.col("w"))
        - 15.59,
        6,
    ).cast("decimal(18,6)")
    return (
        per_doc.select("lang", fk.alias("fk"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("fk").cast("decimal(28,6)").cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_fk_grade"),
            F.min("fk").cast("double").alias("min_fk"),
            F.max("fk").cast("double").alias("max_fk"),
        )
    )


@register(
    "text_boilerplate_ngrams",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(ws[i:i+4], ' ') AS g
        FROM words, (SELECT unnest(range(1, 256)) AS i) ix
        WHERE i + 4 <= len(ws)
    ),
    freq AS (
        SELECT g,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM grams GROUP BY g
    )
    SELECT g AS ngram, n_docs, n_sources,
           ROUND(CAST(n_docs AS DOUBLE)
                 / (SELECT COUNT(*) FROM documents), 9) AS doc_share
    FROM freq
    WHERE n_docs >= 3
    ORDER BY n_docs DESC, ngram
    LIMIT 50
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram detection: word 5-grams repeated across >= 3
    distinct documents, ranked by document reach — the list a cleaning
    pass strips (navigation chrome, license footers; the C4-style
    repeated-span rule at shingle granularity, which also works on the
    punctuation-free text real web extraction often yields). DISTINCT
    per document first so in-doc repetition counts once; the 256-slot
    position spine in the oracle covers any document (max words here is
    ~100; Spark's transform avoids the spine entirely). Explode + one
    shingle-keyed aggregate — at 100 TB you count md5(shingle) instead
    of the string, same shape as the dedup family; top-50 is
    TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    n_docs_total = d.count()
    ws = F.split(F.col("text"), " ", -1)
    grams_arr = F.expr(
        "filter(transform(sequence(1, size(split(text, ' ', -1))), "
        "i -> CASE WHEN i + 4 <= size(split(text, ' ', -1)) "
        "THEN array_join(slice(split(text, ' ', -1), i, 5), ' ') END), "
        "x -> x IS NOT NULL)"
    )
    grams = (
        d.select("doc_id", "source", F.explode(grams_arr).alias("g"))
        .distinct()
    )
    freq = grams.groupBy("g").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    return (
        freq.filter(F.col("n_docs") >= 3)
        .select(
            F.col("g").alias("ngram"),
            "n_docs",
            "n_sources",
            F.round(F.col("n_docs").cast("double") / n_docs_total, 9).alias(
                "doc_share"
            ),
        )
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(50)
    )


@register(
    "text_simpson_diversity",
    oracle=f"""{FRUGAL_ORACLE}
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    freq AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n_i
        FROM tok WHERE token <> '' GROUP BY lang, token
    ),
    agg AS (
        SELECT lang,
               CAST(SUM(n_i) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS s2
        FROM freq GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
           (ROUND((CAST(s2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
              * (n_tokens - 1.0))) * 1e9) / 1e9 + 0.0) AS simpson_lambda,
           (ROUND(((CAST(n_tokens AS DOUBLE) * (n_tokens - 1.0))
              / CAST(s2 AS DOUBLE)) * 1e9) / 1e9 + 0.0) AS inv_simpson
    FROM agg
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's lexical diversity per language: lambda = the probability
    two tokens drawn without replacement are the same type (sum n_i(n_i-1)
    / N(N-1)), and its inverse — the "effective vocabulary size" a corpus
    mix report puts next to hapax ratio and Zipf fit (lambda is length-
    robust where raw TTR collapses on long corpora). The unbiased
    formulation keeps everything EXACT integers: per-(lang, token)
    frequencies, then one bigint sum of n_i(n_i-1) per language — the
    only float ops are the two final single divisions. Scale: the same
    two map-side-combinable shuffles as TF-IDF (token counts, then
    language rollup); no row ever carries more than three longs."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_i"))
    )
    agg = freq.groupBy("lang").agg(
        F.sum("n_i").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("bigint").alias("s2"),
    )
    return agg.selectExpr(
        "lang",
        "n_tokens",
        "n_types",
        "(ROUND((CAST(s2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)"
        " * (n_tokens - 1.0))) * 1e9) / 1e9 + 0.0) AS simpson_lambda",
        "(ROUND(((CAST(n_tokens AS DOUBLE) * (n_tokens - 1.0))"
        " / CAST(s2 AS DOUBLE)) * 1e9) / 1e9 + 0.0) AS inv_simpson",
    )


@register(
    "text_burstiness",
    oracle=f"""{FRUGAL_ORACLE}
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tf WHERE token <> '' GROUP BY token, doc_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    term AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS cf,
               CAST(SUM(tf * tf) AS BIGINT) AS cf2
        FROM cnt GROUP BY token
    )
    SELECT token, df, cf,
           (ROUND((CAST(n_docs * cf2 - cf * cf AS DOUBLE)
              / (CAST(n_docs AS DOUBLE) * cf)) * 1e9) / 1e9 + 0.0)
             AS burstiness
    FROM term, n
    WHERE df >= 20
    ORDER BY burstiness DESC, token ASC
    LIMIT 25
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 burstiest terms: the variance-to-mean ratio (Fisher index) of
    a token's within-document count over ALL documents — the Church-Gale
    signal that separates topical content words (bursty: absent from most
    docs, repeated where present) from function words (VMR ~ 1, Poisson-
    like). Including the zero-count documents needs no zero rows: with
    mean = cf/N and E[tf^2] = cf2/N, VMR = (N*cf2 - cf^2)/(N*cf) — exact
    integers into ONE float division per term. df >= 20 suppresses
    rare-token noise; ordering is (burstiness DESC, token ASC) — a total
    order on deterministic doubles. Scale: two map-side-combinable token
    shuffles (the TF-IDF shape), a 1-row N broadcast, and a distributed
    ordered LIMIT (TakeOrderedAndProject) — the full term table is never
    globally sorted."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    term = cnt.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("cf2"),
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        term.filter(F.col("df") >= 20)
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "token",
            "df",
            "cf",
            "(ROUND((CAST(n_docs * cf2 - cf * cf AS DOUBLE)"
            " / (CAST(n_docs AS DOUBLE) * cf)) * 1e9) / 1e9 + 0.0)"
            " AS burstiness",
        )
        .orderBy(F.desc("burstiness"), F.asc("token"))
        .limit(25)
    )


# Shannon term in bits, rounded-then-DECIMAL-summed (the stat_entropy
# recipe) — shared verbatim by both engines.
_H_TERM_SQL = (
    "CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / LN(2.0), 6)"
    " AS DECIMAL(20,6))"
)


@register(
    "text_ngram_entropy_rate",
    oracle=f"""{FRUGAL_ORACLE}
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    uni AS (
        SELECT lang, unnest(t) AS w FROM toks
    ),
    ucnt AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM uni GROUP BY lang, w
    ),
    utot AS (
        SELECT lang, w, c, SUM(c) OVER (PARTITION BY lang) AS n FROM ucnt
    ),
    h1 AS (
        SELECT lang,
               CAST(MIN(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_unique_tokens,
               CAST(SUM({_H_TERM_SQL}) AS DOUBLE) AS h_unigram_bits
        FROM utot GROUP BY lang
    ),
    bi AS (
        SELECT lang, t[i.i] || ' ' || t[i.i + 1] AS w
        FROM toks, UNNEST(range(1, len(t))) i(i)
    ),
    bcnt AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY lang, w
    ),
    btot AS (
        SELECT lang, w, c, SUM(c) OVER (PARTITION BY lang) AS n FROM bcnt
    ),
    h2 AS (
        SELECT lang,
               CAST(MIN(n) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS n_unique_bigrams,
               CAST(SUM({_H_TERM_SQL}) AS DOUBLE) AS h_bigram_bits
        FROM btot GROUP BY lang
    )
    SELECT h1.lang, n_tokens, n_unique_tokens, n_bigrams, n_unique_bigrams,
           h_unigram_bits, h_bigram_bits,
           (ROUND((h_bigram_bits - h_unigram_bits) * 1e9) / 1e9 + 0.0)
             AS cond_entropy_bits
    FROM h1 JOIN h2 ON h1.lang = h2.lang
    """,
)
def text_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram entropy rate per language: unigram entropy H(w), bigram
    entropy H(w1 w2), and the conditional entropy H(w2 | w1) = H2 - H1 —
    the information-theoretic redundancy measure a corpus report reads
    next to Zipf fit (low conditional entropy = formulaic/boilerplate
    text; near-unigram entropy = shuffled or synthetic text). Counts are
    exact; every -p log2 p term is rounded at 6 decimals and
    DECIMAL-summed (the stat_entropy recipe), and the conditional entropy
    is one subtraction of two such sums. Bigrams enumerate positionally
    (element i, i+1 of the filtered token array) — no self-join. Scale:
    two map-side-combinable count shuffles per order (the TF-IDF shape);
    the per-language totals ride windows over the count tables, never
    the corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias("t"),
    )
    from pyspark.sql import Window

    def _entropy(cnt: DataFrame, n_col: str, uniq_col: str, h_col: str) -> DataFrame:
        tot = cnt.select(
            "lang", "c", F.sum("c").over(Window.partitionBy("lang")).alias("n")
        )
        return tot.groupBy("lang").agg(
            F.min("n").cast("bigint").alias(n_col),
            F.count(F.lit(1)).cast("bigint").alias(uniq_col),
            F.expr(f"CAST(SUM({_H_TERM_SQL}) AS DOUBLE)").alias(h_col),
        )

    ucnt = (
        # Inline the token array in the generator (not explode of the
        # projected attribute): InferFiltersFromGenerate adds a
        # size(attr) > 0 filter for ATTRIBUTE generators, which pushes
        # below the projection and re-tokenizes every document in a
        # Filter node; for non-trivial inline generators the rule's
        # SPARK-36715 guard skips the inference (round-12 W11).
        d.select(
            "lang",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    h1 = _entropy(ucnt, "n_tokens", "n_unique_tokens", "h_unigram_bits")
    # size >= 2 guard: Spark's sequence(1, 0) REVERSES into [1, 0] instead
    # of being empty (the eval_retrieval_ndcg idcg gotcha); DuckDB's
    # end-exclusive range(1, 1) is already empty. Round-12: the guard is
    # fused into the explode (empty array drops the row) — as a .filter()
    # on the projected token array it pushed below the projection and
    # re-tokenized every document in the Filter node.
    bi = toks.select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1) "
                "ELSE array() END"
            )
        ).alias("i"),
        "t",
    ).select(
        "lang",
        F.concat(
            F.element_at("t", F.col("i")),
            F.lit(" "),
            F.element_at("t", F.col("i") + 1),
        ).alias("w"),
    )
    bcnt = bi.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    h2 = _entropy(bcnt, "n_bigrams", "n_unique_bigrams", "h_bigram_bits")
    return h1.join(h2, "lang").selectExpr(
        "lang",
        "n_tokens",
        "n_unique_tokens",
        "n_bigrams",
        "n_unique_bigrams",
        "h_unigram_bits",
        "h_bigram_bits",
        # the double subtraction of two 6-decimal sums is not 9-digit clean
        # (convention gate) — round-at-9 the emission, identical both sides
        "(ROUND((h_bigram_bits - h_unigram_bits) * 1e9) / 1e9 + 0.0)"
        " AS cond_entropy_bits",
    )


@register(
    "vocab_coverage_curve",
    oracle=f"""{FRUGAL_ORACLE}
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE token <> '' GROUP BY token
    ),
    curve AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
                   AS vocab_size,
               token, c,
               CAST(SUM(c) OVER (ORDER BY c DESC, token ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_count,
               CAST(SUM(c) OVER () AS BIGINT) AS total_tokens
        FROM cnt
    )
    SELECT vocab_size, token, c AS token_count, cum_count, total_tokens,
           (ROUND((CAST(cum_count AS DOUBLE) / total_tokens) * 1e9) / 1e9
               + 0.0) AS coverage
    FROM curve WHERE vocab_size <= 1000
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-mass coverage by frequency-ranked vocabulary size —
    the curve a tokenizer owner reads to pick the vocab cutoff (the rank
    where coverage crosses their OOV budget). One row per rank (capped at
    the 1000-rank head; this corpus's whole vocabulary fits): token,
    occurrence count, inclusive cumulative count, and coverage share under
    the reproducible (count DESC, token ASC) total order.

    Plan: one token-count shuffle, the distributed exact row number
    (operators/ranking.py::global_row_number — range partition + tiny
    per-partition offsets) under that order, then the exact distributed
    prefix sum keyed by the row number
    (operators/ranking.py::global_running_sums — quantile blocks + tiny
    per-block offsets; NO unpartitioned data-sized window anywhere), and
    the 1000-row head taken by rank filter. Totals come from one extra
    1-row aggregate broadcast back. At 100 TB the curve costs the token
    count plus two vocab-sized ranking passes."""
    from chainhouse_spark.operators.ranking import (
        global_row_number,
        global_running_sums,
    )

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    order = [F.desc("c"), F.asc("token")]
    ranked = global_row_number(cnt, order, out_col="vocab_size")
    # Prefix-sum over the RANK (same total order as `order`, but unique,
    # numeric and ascending): Zipf counts are exactly the tie-heavy key
    # global_running_sums' docstring warns about.
    summed = global_running_sums(ranked, "vocab_size", {"c": "cum_count"})
    total = cnt.agg(F.sum("c").cast("bigint").alias("total_tokens"))
    return (
        summed.filter(F.col("vocab_size") <= 1000)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("vocab_size").cast("bigint"),
            "token",
            F.col("c").alias("token_count"),
            F.col("cum_count").cast("bigint"),
            "total_tokens",
            round9(
                F.col("cum_count").cast("double") / F.col("total_tokens")
            ).alias("coverage"),
        )
    )
