"""Driver-contract queries: Spark implementation + DuckDB oracle SQL.

Every SQL-expressible operator from SURVEY.md §2 gets a (queries,
oracle_sql) pair here. Both sides are generated from the SAME lexicon
constants (lexicons.py) and the SAME numeric formulas, so the oracle
cannot drift from the engine. Column names and float rounding (4 dp)
are aligned on both sides because the driver hash-compares values.

Non-SQL-expressible ops (LSH dedup, simhash, KMeans clustering,
connected components, the full triple pipeline) are exposed as
rows-only queries (no oracle entry).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_knowledge_extractor_spark.functions.doctype import doc_type
from pdf_knowledge_extractor_spark.functions.langid import detect_language
from pdf_knowledge_extractor_spark.functions.quality import (
    is_valid_text,
    quality_struct,
)
from pdf_knowledge_extractor_spark.functions.sentiment import sentiment_struct
from pdf_knowledge_extractor_spark.functions.text import (
    bpe_ish_token_count,
    char_count,
    estimate_tokens,
    fingerprint,
    word_count,
)
from pdf_knowledge_extractor_spark.lexicons import (
    DOC_TYPE_LEXICONS,
    DOC_TYPE_ORDER,
    LANG_PROFILES,
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    STOP_WORDS,
    sql_list,
)
from pdf_knowledge_extractor_spark.operators.concepts import (
    aggregate_concepts,
    per_doc_top_keywords,
)
from pdf_knowledge_extractor_spark.operators.mentions import keyword_mentions
from pdf_knowledge_extractor_spark.operators.related import related_documents
from pdf_knowledge_extractor_spark.operators.similarity import exact_cosine_pairs
from pdf_knowledge_extractor_spark.operators.tfidf import (
    per_doc_top_terms,
    tfidf_longform,
)
from pdf_knowledge_extractor_spark.sources.readers import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# shared SQL snippets (DuckDB dialect), generated from lexicons
# ---------------------------------------------------------------------------

# keyword tokens: \b[a-z]{4,}\b on lowered text (claude_integration.py:1302)
_SQL_TOKS = r"""
toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\b[a-z]{4,}\b')) AS word
    FROM documents
)"""
_SQL_TOKS_NOSTOP = (
    _SQL_TOKS
    + f""",
kw AS (
    SELECT doc_id, word FROM toks WHERE word NOT IN ({sql_list(STOP_WORDS)})
)"""
)

# whitespace words of lower(text)
_SQL_WS_WORDS = r"""
wsw AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       w -> len(w) > 0) AS words
    FROM documents
)"""

# L2-normalized sublinear tf-idf long form over keyword tokens
_SQL_TFIDF = (
    _SQL_TOKS_NOSTOP
    + r""",
tf AS (
    SELECT doc_id, word AS term, count(*)::BIGINT AS tf
    FROM kw GROUP BY doc_id, word
),
ndocs AS (SELECT count(*) AS n_docs FROM documents),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term),
weighted AS (
    SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           (1.0 + ln(tf.tf)) * ln(ndocs.n_docs::DOUBLE / dft.df) AS weight
    FROM tf, ndocs
    JOIN dft ON tf.term = dft.term
),
norms AS (
    SELECT doc_id, sqrt(sum(weight * weight)) AS nrm
    FROM weighted GROUP BY doc_id
),
tfidf AS (
    SELECT w.doc_id, w.term, w.tf, w.df, w.weight / n.nrm AS weight
    FROM weighted w JOIN norms n ON w.doc_id = n.doc_id
    WHERE n.nrm > 0
)"""
)


# ---------------------------------------------------------------------------
# q01 — per-doc stats (P6, P4): word/char counts + token estimates
# ---------------------------------------------------------------------------
@_register(
    "doc_stats",
    f"""
WITH {_SQL_WS_WORDS.split('AS', 1)[0].strip()} AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> len(w) > 0) AS words,
           text
    FROM documents
)
SELECT doc_id,
       len(words)::BIGINT AS word_count,
       length(text)::BIGINT AS char_count,
       (length(text) // 4)::BIGINT AS est_tokens,
       len(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
FROM wsw
ORDER BY doc_id
""",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        word_count(F.col("text")).cast("long").alias("word_count"),
        char_count(F.col("text")).cast("long").alias("char_count"),
        estimate_tokens(F.col("text")).alias("est_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# q02 — text validity metrics (F5)
# ---------------------------------------------------------------------------
@_register(
    "text_validity",
    r"""
SELECT doc_id,
       round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                  / length(text) ELSE 0.0 END, 4) AS alnum_ratio,
       round(CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                       w -> len(w) > 0)) > 0
             THEN len(list_distinct(list_filter(
                      regexp_split_to_array(lower(trim(text)), '\s+'),
                      w -> len(w) > 0)))::DOUBLE
                  / len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                    w -> len(w) > 0))
             ELSE 0.0 END, 4) AS uniq_ratio,
       (length(trim(text)) > 0 AND length(text) <= 500000
        AND (CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                  / length(text) ELSE 0.0 END) >= 0.7
        AND (CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                       w -> len(w) > 0)) > 0
             THEN len(list_distinct(list_filter(
                      regexp_split_to_array(lower(trim(text)), '\s+'),
                      w -> len(w) > 0)))::DOUBLE
                  / len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                    w -> len(w) > 0))
             ELSE 0.0 END) >= 0.1) AS is_valid
FROM documents
""",
)
def q_text_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_knowledge_extractor_spark.functions.text import (
        alnum_ratio,
        unique_word_ratio,
    )

    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(alnum_ratio(t), 4).alias("alnum_ratio"),
        F.round(unique_word_ratio(t), 4).alias("uniq_ratio"),
        is_valid_text(t).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# q03 — per-doc top-20 keywords (A2/W4)
# ---------------------------------------------------------------------------
@_register(
    "keywords_topk",
    f"""
WITH {_SQL_TOKS_NOSTOP.lstrip()},
counts AS (
    SELECT doc_id, word AS keyword, count(*)::BIGINT AS cnt
    FROM kw GROUP BY doc_id, word
),
ranked AS (
    SELECT doc_id, keyword, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, keyword ASC) AS rank
    FROM counts
)
SELECT doc_id, keyword, cnt, rank::INT AS rank FROM ranked WHERE rank <= 20
""",
)
def q_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    return per_doc_top_keywords(km, k=20).select(
        "doc_id",
        F.col("text").alias("keyword"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q04 — corpus concept aggregation (A1 + F7 + W1), keyword stream
# ---------------------------------------------------------------------------
@_register(
    "concepts_agg",
    f"""
WITH {_SQL_TOKS_NOSTOP.lstrip()}
SELECT word AS text,
       count(*)::BIGINT AS frequency,
       count(DISTINCT doc_id)::BIGINT AS n_documents
FROM kw
GROUP BY word
HAVING count(*) >= 2
ORDER BY frequency DESC, text ASC
LIMIT 100
""",
)
def q_concepts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    c = aggregate_concepts(km, min_frequency=2, max_concepts=None)
    return (
        c.orderBy(F.desc("frequency"), F.asc("text"))
        .limit(100)
        .select(
            "text",
            F.col("frequency").cast("long").alias("frequency"),
            F.col("n_documents").cast("long").alias("n_documents"),
        )
    )


# ---------------------------------------------------------------------------
# q05 — document-type detection (P7)
# ---------------------------------------------------------------------------
def _sql_type_hits(cat: str) -> str:
    terms = DOC_TYPE_LEXICONS[cat]
    parts = " + ".join(
        f"(CASE WHEN contains(lower(text), '{t}') THEN 1 ELSE 0 END)"
        for t in terms
    )
    return f"({parts})"


_SQL_TYPE_COUNTS = ",\n       ".join(
    f"{_sql_type_hits(cat)} AS {cat}_hits" for cat in DOC_TYPE_ORDER
)
_SQL_TYPE_BEST = "greatest(" + ", ".join(f"{c}_hits" for c in DOC_TYPE_ORDER) + ")"
_SQL_TYPE_PICK = (
    "CASE WHEN length(coalesce(text, '')) = 0 THEN 'unknown' "
    f"WHEN {_SQL_TYPE_BEST} = 0 THEN 'general' "
    + " ".join(
        f"WHEN {cat}_hits = {_SQL_TYPE_BEST} THEN '{cat}'"
        for cat in DOC_TYPE_ORDER
    )
    + " END"
)


@_register(
    "doc_type",
    f"""
WITH hits AS (
    SELECT doc_id, text,
       {_SQL_TYPE_COUNTS}
    FROM documents
)
SELECT doc_id, {_SQL_TYPE_PICK} AS document_type FROM hits
""",
)
def q_doc_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", doc_type(F.col("text")).alias("document_type"))


# ---------------------------------------------------------------------------
# q06 — sentiment (A4)
# ---------------------------------------------------------------------------
@_register(
    "sentiment",
    f"""
WITH {_SQL_WS_WORDS.lstrip()},
hits AS (
    SELECT doc_id,
           len(list_filter(words, w -> list_contains([{sql_list(POSITIVE_WORDS)}], w)))::BIGINT AS pos,
           len(list_filter(words, w -> list_contains([{sql_list(NEGATIVE_WORDS)}], w)))::BIGINT AS neg
    FROM wsw
)
SELECT doc_id,
       CASE WHEN pos + neg = 0 THEN 'neutral'
            WHEN pos > neg THEN 'positive'
            WHEN neg > pos THEN 'negative'
            ELSE 'neutral' END AS sentiment,
       round(CASE WHEN pos + neg = 0 THEN 0.0
            WHEN pos > neg THEN pos::DOUBLE / (pos + neg)
            WHEN neg > pos THEN neg::DOUBLE / (pos + neg)
            ELSE 0.0 END, 4) AS score,
       pos AS positive_indicators, neg AS negative_indicators
FROM hits
""",
)
def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = sentiment_struct(F.col("text"))
    return d.select("doc_id", s.alias("_s")).select(
        "doc_id",
        F.col("_s.sentiment").alias("sentiment"),
        F.round(F.col("_s.score"), 4).alias("score"),
        F.col("_s.positive_indicators").cast("long").alias("positive_indicators"),
        F.col("_s.negative_indicators").cast("long").alias("negative_indicators"),
    )


# ---------------------------------------------------------------------------
# q07 — collection stats (A5/A6)
# ---------------------------------------------------------------------------
@_register(
    "collection_stats",
    r"""
WITH per_doc AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           w -> len(w) > 0))::BIGINT AS wc,
           length(text)::BIGINT AS cc
    FROM documents
)
SELECT count(*)::BIGINT AS total_docs,
       sum(wc)::BIGINT AS total_words,
       round(avg(wc), 6) AS avg_words,
       min(wc)::BIGINT AS min_words,
       max(wc)::BIGINT AS max_words,
       sum(cc)::BIGINT AS total_chars,
       round(avg(cc), 6) AS avg_chars
FROM per_doc
""",
)
def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    wc = word_count(F.col("text")).cast("long")
    cc = char_count(F.col("text")).cast("long")
    per = d.select(wc.alias("wc"), cc.alias("cc"))
    return per.agg(
        F.count("*").alias("total_docs"),
        F.sum("wc").alias("total_words"),
        F.round(F.avg("wc"), 6).alias("avg_words"),
        F.min("wc").alias("min_words"),
        F.max("wc").alias("max_words"),
        F.sum("cc").alias("total_chars"),
        F.round(F.avg("cc"), 6).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# q08 — related docs via shared keywords (J2/W3)
# ---------------------------------------------------------------------------
@_register(
    "related_docs",
    f"""
WITH {_SQL_TOKS_NOSTOP.lstrip()},
counts AS (
    SELECT doc_id, word, count(*)::BIGINT AS cnt
    FROM kw GROUP BY doc_id, word
),
topkw0 AS (
    SELECT doc_id, word FROM (
        SELECT doc_id, word,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, word ASC) AS r
        FROM counts
    ) WHERE r <= 20
),
ndocs_r AS (SELECT count(DISTINCT doc_id) AS n FROM topkw0),
hot AS (
    SELECT word FROM topkw0, ndocs_r
    GROUP BY word, n HAVING count(DISTINCT doc_id) > n * 0.9
),
topkw AS (
    SELECT * FROM topkw0 WHERE word NOT IN (SELECT word FROM hot)
),
pairs AS (
    SELECT a.doc_id AS doc_id, b.doc_id AS related_doc_id,
           count(*)::BIGINT AS shared_kw_count
    FROM topkw a JOIN topkw b ON a.word = b.word AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 3
)
SELECT doc_id, related_doc_id, shared_kw_count FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY shared_kw_count DESC,
                                          related_doc_id ASC) AS r
    FROM pairs
) WHERE r <= 10
""",
)
def q_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    topkw = per_doc_top_keywords(km, k=20)
    return related_documents(
        topkw.select("doc_id", "text"), min_shared=3, top_k=10,
        max_df_fraction=0.9,
    ).select(
        "doc_id",
        "related_doc_id",
        F.col("shared_kw_count").cast("long").alias("shared_kw_count"),
    )


# ---------------------------------------------------------------------------
# q09 — per-doc top-20 tf-idf terms (A8/A9/W4)
# ---------------------------------------------------------------------------
@_register(
    "tfidf_topk",
    f"""
WITH {_SQL_TFIDF.lstrip()}
SELECT doc_id, term, round(weight, 4) AS weight, rank::INT AS rank FROM (
    SELECT doc_id, term, weight,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY weight DESC, term ASC) AS rank
    FROM tfidf
) WHERE rank <= 20
""",
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    return per_doc_top_terms(t, k=20).select(
        "doc_id",
        "term",
        F.round("weight", 4).alias("weight"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q10 — all-pairs cosine similarity >= 0.7 (J1/F6), exact path
# ---------------------------------------------------------------------------
@_register(
    "similar_pairs",
    f"""
WITH {_SQL_TFIDF.lstrip()}
SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id,
       round(sum(a.weight * b.weight), 4) AS similarity_score
FROM tfidf a JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING round(sum(a.weight * b.weight), 6) >= 0.7
""",
)
def q_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold applied on round(score, 6) so last-ulp float noise from
    # different summation orders cannot flip borderline pairs vs oracle
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    return (
        exact_cosine_pairs(t, threshold=0.0)
        .filter(F.round("similarity_score", 6) >= 0.7)
        .select(
            "doc1_id",
            "doc2_id",
            F.round("similarity_score", 4).alias("similarity_score"),
        )
    )


# ---------------------------------------------------------------------------
# q11 — contains triples (J6): doc -> concept edges
# ---------------------------------------------------------------------------
@_register(
    "contains_triples",
    f"""
WITH {_SQL_TOKS_NOSTOP.lstrip()},
concepts AS (
    SELECT word AS text, count(*)::BIGINT AS frequency
    FROM kw GROUP BY word HAVING count(*) >= 2
    ORDER BY frequency DESC, text ASC LIMIT 100
),
cd AS (
    SELECT DISTINCT kw.doc_id, kw.word FROM kw
    JOIN concepts c ON kw.word = c.text
)
SELECT doc_id::VARCHAR AS subj,
       'contains' AS pred,
       'concept_' || regexp_replace(word, '[^a-zA-Z0-9_]', '_', 'g') AS obj
FROM cd
""",
)
def q_contains_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    c = (
        aggregate_concepts(km, min_frequency=2, max_concepts=None)
        .orderBy(F.desc("frequency"), F.asc("text"))
        .limit(100)
    )
    return c.select(
        F.explode("document_ids").alias("doc_id"), F.col("text")
    ).select(
        F.col("doc_id").cast("string").alias("subj"),
        F.lit("contains").alias("pred"),
        F.concat(
            F.lit("concept_"),
            F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9_]", "_"),
        ).alias("obj"),
    )


# ---------------------------------------------------------------------------
# q12 — exact deduplication by normalized-content fingerprint
# ---------------------------------------------------------------------------
@_register(
    "exact_dedup",
    r"""
WITH fp AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents
),
grp AS (
    SELECT fingerprint, min(doc_id) AS canonical_id,
           count(*)::BIGINT AS group_size
    FROM fp GROUP BY fingerprint
)
SELECT f.doc_id, f.fingerprint, g.canonical_id, g.group_size,
       (f.doc_id <> g.canonical_id) AS is_duplicate
FROM fp f JOIN grp g ON f.fingerprint = g.fingerprint
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
    grp = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("group_size"),
    )
    return fp.join(grp, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "canonical_id",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# q13 — language identification heuristic
# ---------------------------------------------------------------------------
def _sql_lang_hits(lang: str) -> str:
    prof = LANG_PROFILES[lang]
    return (
        "len(list_filter(words, w -> list_contains(["
        + sql_list(prof)
        + f"], w))) AS {lang}_hits"
    )


_SQL_LANG_BEST = "greatest(" + ", ".join(f"{c}_hits" for c in LANG_PROFILES) + ")"
_SQL_LANG_PICK = (
    f"CASE WHEN {_SQL_LANG_BEST} = 0 THEN 'und' "
    + " ".join(
        f"WHEN {lang}_hits = {_SQL_LANG_BEST} THEN '{lang}'"
        for lang in LANG_PROFILES
    )
    + " END"
)


@_register(
    "lang_id",
    f"""
WITH {_SQL_WS_WORDS.lstrip()},
hits AS (
    SELECT doc_id, {", ".join(_sql_lang_hits(lg) for lg in LANG_PROFILES)}
    FROM wsw
)
SELECT doc_id, {_SQL_LANG_PICK} AS detected_lang FROM hits
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", detect_language(F.col("text")).alias("detected_lang")
    )


# ---------------------------------------------------------------------------
# q14 — quality scoring (F3), full five-metric model
# ---------------------------------------------------------------------------
_SQL_QUALITY = r"""
WITH base AS (
    SELECT doc_id, text,
           length(text) AS n,
           (length(trim(text)) = 0) AS blank,
           CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                     / length(text) ELSE 0.0 END AS ar,
           list_filter(regexp_split_to_array(trim(text), '\s+'),
                       w -> len(w) > 0) AS words,
           (floor(length(text) / 2500.0) + 1)::BIGINT AS page_count
    FROM documents
),
m AS (
    SELECT doc_id, blank, n, page_count,
        CASE WHEN ar >= 0.6 AND ar <= 0.9 THEN 1.0
             WHEN ar >= 0.4 AND ar < 0.6 THEN 0.7
             WHEN ar >= 0.2 AND ar < 0.4 THEN 0.4
             ELSE 0.1 END AS text_quality,
        CASE WHEN page_count * 2500 > 0 THEN
            CASE WHEN least(n::DOUBLE / (page_count * 2500), 2.0) >= 0.8 THEN 1.0
                 WHEN least(n::DOUBLE / (page_count * 2500), 2.0) >= 0.5 THEN 0.8
                 WHEN least(n::DOUBLE / (page_count * 2500), 2.0) >= 0.2 THEN 0.5
                 ELSE 0.2 END
        ELSE 0.0 END AS extraction_ratio,
        CASE WHEN len(words) > 0 THEN
            CASE WHEN len(array_to_string(words, ''))::DOUBLE / len(words) >= 4
                      AND len(array_to_string(words, ''))::DOUBLE / len(words) <= 8 THEN 1.0
                 WHEN (len(array_to_string(words, ''))::DOUBLE / len(words) >= 3
                       AND len(array_to_string(words, ''))::DOUBLE / len(words) < 4)
                   OR (len(array_to_string(words, ''))::DOUBLE / len(words) > 8
                       AND len(array_to_string(words, ''))::DOUBLE / len(words) <= 12) THEN 0.7
                 ELSE 0.3 END
        ELSE 0.0 END AS content_density,
        CASE WHEN len(words) > 50 THEN
            CASE WHEN len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE
                      / len(words) >= 0.4 THEN 1.0
                 WHEN len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE
                      / len(words) >= 0.2 THEN 0.6
                 WHEN len(list_distinct(list_transform(words, w -> lower(w))))::DOUBLE
                      / len(words) >= 0.1 THEN 0.3
                 ELSE 0.1 END
        ELSE 0.8 END AS language_quality,
        least(
            (CASE WHEN regexp_matches(text, '\n\n') THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN regexp_matches(text, '[.!?]\s+[A-Z]') THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN regexp_matches(text, ':\s*\n') THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN regexp_matches(text, '^\s*[0-9]+\.') THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN regexp_matches(text, '^\s*[•\-\*]') THEN 0.2 ELSE 0.0 END),
            1.0) AS structure_quality
    FROM base
)
SELECT doc_id,
       round(CASE WHEN blank THEN 0.0 ELSE text_quality END, 4) AS text_quality,
       round(CASE WHEN blank THEN 0.0 ELSE extraction_ratio END, 4) AS extraction_ratio,
       round(CASE WHEN blank THEN 0.0 ELSE content_density END, 4) AS content_density,
       round(CASE WHEN blank THEN 0.0 ELSE language_quality END, 4) AS language_quality,
       round(CASE WHEN blank THEN 0.0 ELSE structure_quality END, 4) AS structure_quality,
       round(CASE WHEN blank THEN 0.0 ELSE
             text_quality * 0.40 + extraction_ratio * 0.25
           + content_density * 0.15 + language_quality * 0.10
           + structure_quality * 0.10 END, 4) AS overall_score
FROM m
"""


@_register("quality_scores", _SQL_QUALITY)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pages = (F.floor(F.length("text") / 2500.0) + 1).cast("long")
    q = quality_struct(F.col("text"), pages)
    return d.select("doc_id", q.alias("q")).select(
        "doc_id",
        F.round("q.text_quality", 4).alias("text_quality"),
        F.round("q.extraction_ratio", 4).alias("extraction_ratio"),
        F.round("q.content_density", 4).alias("content_density"),
        F.round("q.language_quality", 4).alias("language_quality"),
        F.round("q.structure_quality", 4).alias("structure_quality"),
        F.round("q.overall_score", 4).alias("overall_score"),
    )


# ---------------------------------------------------------------------------
# q15 — events: hourly tumbling-window aggregation
# ---------------------------------------------------------------------------
@_register(
    "events_hourly",
    """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 6) AS avg_value,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events
GROUP BY 1, 2
""",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# q16 — sessionization (gap > 30 min) per user
# ---------------------------------------------------------------------------
@_register(
    "sessionize",
    """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
sessions AS (
    SELECT user_id, event_id,
           sum(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       max(session_id)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM sessions GROUP BY user_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# q17 — TPC-H Q1-style pricing summary (join/agg plumbing check)
# ---------------------------------------------------------------------------
@_register(
    "tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q18 — broadcast join: revenue per nation (TPC-H Q5-ish)
# ---------------------------------------------------------------------------
@_register(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*)::BIGINT AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)


def flagship(spark: SparkSession,
             sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The flagship end-to-end query: full KG pipeline -> triples."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    docs = _docs(spark, sf_dir)
    res = run_pipeline(spark, docs, PipelineConfig())
    return res["triples"]

# ---------------------------------------------------------------------------
# q19 — ANN: exact cosine top-5 neighbors per embedding
# ---------------------------------------------------------------------------
@_register(
    "ann_topk",
    """
WITH scored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS nbr_id,
           list_cosine_similarity(q.embedding::DOUBLE[],
                                  b.embedding::DOUBLE[]) AS cosine
    FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
)
SELECT query_id, nbr_id, round(cosine, 4) AS cosine, rank::INT AS rank FROM (
    SELECT query_id, nbr_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(cosine, 9) DESC, nbr_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
""",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_knowledge_extractor_spark.operators.ann import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    b = emb.select(F.col("vec_id").alias("nbr_id"), F.col("v").alias("nv"))
    scored = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("query_id") != F.col("nbr_id"))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cosine", 9)), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "nbr_id",
            F.round("cosine", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q20 — embedding near-duplicate pairs (cosine >= 0.35)
# ---------------------------------------------------------------------------
@_register(
    "embedding_neardup",
    """
SELECT a.vec_id AS doc1_id, b.vec_id AS doc2_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.35
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_knowledge_extractor_spark.operators.ann import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = emb.select(F.col("vec_id").alias("doc1_id"), F.col("v").alias("v1"))
    b = emb.select(F.col("vec_id").alias("doc2_id"), F.col("v").alias("v2"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("doc1_id") < F.col("doc2_id"))
        .withColumn("cosine", cosine_expr(F.col("v1"), F.col("v2")))
        .filter(F.round("cosine", 6) >= 0.35)
        .select("doc1_id", "doc2_id", F.round("cosine", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# q21 — n-gram Jaccard near-dup pairs (3-gram shingles, >= 0.5)
# ---------------------------------------------------------------------------
@_register(
    "ngram_jaccard",
    r"""
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       w -> len(w) > 0) AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
    FROM words, unnest(range(1, len(ws) - 1)) r(i)
    WHERE len(ws) >= 3
),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id, count(*)::BIGINT AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc1_id, i.doc2_id, i.inter, s1.sz AS sz1, s2.sz AS sz2,
       round(i.inter::DOUBLE / (s1.sz + s2.sz - i.inter), 4) AS jaccard
FROM inter i
JOIN sz s1 ON i.doc1_id = s1.doc_id
JOIN sz s2 ON i.doc2_id = s2.doc_id
WHERE i.inter::DOUBLE / (s1.sz + s2.sz - i.inter) >= 0.5
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_knowledge_extractor_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    d = _docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        d, threshold=0.5, n=3, max_df=None
    ).select(
        "doc1_id",
        "doc2_id",
        F.col("inter").cast("long").alias("inter"),
        F.col("sz1").cast("long").alias("sz1"),
        F.col("sz2").cast("long").alias("sz2"),
        F.round("jaccard", 4).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# q22 — chunking (P3): fixed 1000-char windows, 100 overlap
# ---------------------------------------------------------------------------
@_register(
    "doc_chunks",
    """
SELECT doc_id,
       (1 + floor((greatest(length(text), 1) - 1) / 900))::BIGINT AS n_chunks,
       least(length(text), 1000)::BIGINT AS first_chunk_len
FROM documents
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_knowledge_extractor_spark.functions.text import chunk_text

    d = _docs(spark, sf_dir)
    chunks = chunk_text(F.col("text"), 1000, 100)
    return d.select(
        "doc_id",
        F.size(chunks).cast("long").alias("n_chunks"),
        F.length(F.element_at(chunks, 1)).cast("long").alias("first_chunk_len"),
    )


# ---------------------------------------------------------------------------
# formerly rows-only queries, now oracle-gated (round 2): every blocked /
# iterative operator gets a DuckDB-checkable derivation — either the SQL
# reproduces the ground truth the operator must equal (minhash verify,
# pigeonhole-complete simhash), re-derives the exact same deterministic
# plan from md5-based hashes (simhash, hyperplane LSH, multi-probe IVF),
# or computes the fixpoint with a recursive CTE (connected components).
# ---------------------------------------------------------------------------
@_register(
    "minhash_dedup",
    r"""
WITH words AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       w -> len(w) > 0) AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
    FROM words, unnest(range(1, len(ws) - 1)) r(i)
    WHERE len(ws) >= 3
),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id, count(*)::BIGINT AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc1_id, i.doc2_id,
       round(i.inter::DOUBLE / (s1.sz + s2.sz - i.inter), 4) AS jaccard
FROM inter i
JOIN sz s1 ON i.doc1_id = s1.doc_id
JOIN sz s2 ON i.doc2_id = s2.doc_id
WHERE i.inter::DOUBLE / (s1.sz + s2.sz - i.inter) >= 0.5
""",
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-banded dedup vs the GROUND-TRUTH oracle: the SQL
    computes the full exact-Jaccard pair set at the same threshold, so
    the hash match proves banding recall is 1.0 on this corpus (the
    verify stage already makes precision exactly 1.0 — every emitted
    pair carries its true Jaccard). Deterministic: xxhash64 signatures,
    fixed band split."""
    from pdf_knowledge_extractor_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5).select(
        "doc1_id", "doc2_id", F.round("jaccard", 4).alias("jaccard")
    )


@_register(
    "simhash_pairs",
    r"""
WITH w AS (
    SELECT doc_id,
           unnest(list_filter(
               regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
               x -> len(x) > 0)) AS w
    FROM documents
),
tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM w GROUP BY doc_id, w),
h AS (
    SELECT doc_id, tf,
           ('0x' || substr(md5(w), 1, 8))::BIGINT AS lo,
           ('0x' || substr(md5(w), 9, 8))::BIGINT AS hi
    FROM tf
),
bits AS (
    SELECT doc_id, b,
           CASE WHEN sum(tf * (CASE WHEN
                    ((CASE WHEN b < 32 THEN lo ELSE hi END) >> (b % 32)) & 1 = 1
                THEN 1 ELSE -1 END)) > 0
                THEN 1::BIGINT ELSE 0::BIGINT END AS bv
    FROM h, range(64) r(b)
    GROUP BY doc_id, b
),
sigs AS (
    SELECT doc_id,
           sum(CASE WHEN b < 32 THEN bv << b ELSE 0 END)::BIGINT AS sh_lo,
           sum(CASE WHEN b >= 32 THEN bv << (b - 32) ELSE 0 END)::BIGINT AS sh_hi
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id,
       (bit_count(xor(a.sh_lo, b.sh_lo))
        + bit_count(xor(a.sh_hi, b.sh_hi)))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 8
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully SQL-verified: hash_fn='md5' makes
    the 64-bit signatures reproducible in DuckDB (same md5 hex, same
    bit parities), and the auto band count (16 blocks > max_hamming=8)
    makes the pigeonhole candidate stage COMPLETE — so the banded
    equi-join + popcount verify must emit exactly the brute-force
    hamming ball the oracle computes."""
    from pdf_knowledge_extractor_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    return simhash_near_dup_pairs(
        _docs(spark, sf_dir), max_hamming=8, hash_fn="md5"
    ).select("doc1_id", "doc2_id", F.col("hamming").cast("long").alias("hamming"))


# shared CTE: deterministic md5-parity hyperplanes (ann.hyperplane_sign)
def _sql_planes(n_tables: int, n_bits: int, dim: int) -> str:
    return f"""
planes AS (
    SELECT t, b,
           list_transform(range({dim}), i ->
               CASE WHEN ('0x' || substr(md5(t || '_' || b || '_' || i), 1, 1))::INT
                         & 1 = 1
                    THEN 1.0 ELSE -1.0 END) AS r
    FROM range({n_tables}) tt(t), range({n_bits}) bb(b)
),
vbits AS (
    SELECT e.vec_id, p.t, p.b,
           CASE WHEN list_sum(list_transform(range({dim}), i ->
                    e.embedding[i + 1]::DOUBLE * p.r[i + 1])) > 0
                THEN (1::BIGINT << p.b) ELSE 0::BIGINT END AS wgt
    FROM embeddings e, planes p
),
sigs AS (SELECT vec_id, t, sum(wgt)::BIGINT AS sig FROM vbits GROUP BY vec_id, t)"""


_SQL_ANN_TOPK_TAIL = """
scored AS (
    SELECT c.query_id, c.nbr_id,
           list_cosine_similarity(qa.embedding::DOUBLE[],
                                  qb.embedding::DOUBLE[]) AS cosine
    FROM cand c
    JOIN embeddings qa ON c.query_id = qa.vec_id
    JOIN embeddings qb ON c.nbr_id = qb.vec_id
)
SELECT query_id, nbr_id, round(cosine, 4) AS cosine, rank::INT AS rank FROM (
    SELECT query_id, nbr_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(cosine, 9) DESC, nbr_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
"""


@_register(
    "ann_lsh_topk",
    f"""
WITH {_sql_planes(8, 8, 64).strip()},
cand AS (
    SELECT DISTINCT s1.vec_id AS query_id, s2.vec_id AS nbr_id
    FROM sigs s1
    JOIN sigs s2 ON s1.t = s2.t AND s1.sig = s2.sig AND s1.vec_id <> s2.vec_id
),
{_SQL_ANN_TOPK_TAIL.strip()}
""",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, fully SQL-verified: the ±1 hyperplanes are
    md5-parity constants (ann.hyperplane_sign), so DuckDB re-derives
    the identical buckets, candidate set, exact rescore and top-5 —
    the hash match checks the whole blocked plan, not just row
    counts."""
    from pdf_knowledge_extractor_spark.operators.ann import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return lsh_bucketed_topk(emb, k=5, n_bits=8, n_tables=8, dim=64).select(
        "query_id",
        "nbr_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@_register(
    "kmeans_clusters",
    f"""
WITH {_SQL_TFIDF.lstrip()}
SELECT 5::BIGINT AS n_clusters,
       count(DISTINCT doc_id)::BIGINT AS n_assignments,
       count(DISTINCT doc_id)::BIGINT AS n_distinct_docs
FROM tfidf
""",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans partition invariant, oracle-checked: k=5 (pinned, seed
    42) must assign EVERY vectorizable document (tfidf norm > 0) to
    exactly one of 5 non-empty clusters. The oracle derives the
    universe from the same tf-idf SQL; the cluster detail (labels,
    memberships, centroid terms) is driver-unsafe (map columns) and is
    gated by pytest (test_clustering) plus the kmeans_summaries
    rows-only query."""
    from pdf_knowledge_extractor_spark.operators.clustering import (
        cluster_documents,
    )
    from pdf_knowledge_extractor_spark.operators.tfidf import to_ml_vectors

    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    vectors = to_ml_vectors(t, vocab_size=1 << 12)
    assignments, _, _ = cluster_documents(vectors, k=5, evaluate=False)
    return assignments.agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count("*").alias("n_assignments"),
        F.countDistinct("doc_id").cast("long").alias("n_distinct_docs"),
    )


@_register("kmeans_summaries")
def q_kmeans_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster detail (C2/J4/W5), driver-safe projection: nested
    map/array columns JSON-encoded, deterministic ordering. Rows-only
    by contract — KMeans memberships are not SQL-derivable; the
    partition invariant is oracle-gated by kmeans_clusters."""
    from pdf_knowledge_extractor_spark.operators.clustering import (
        cluster_documents,
        cluster_summaries,
    )
    from pdf_knowledge_extractor_spark.operators.tfidf import to_ml_vectors

    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count()).persist()
    vectors = to_ml_vectors(t, vocab_size=1 << 12)
    assignments, _, _ = cluster_documents(vectors, k=5, evaluate=False)
    return (
        cluster_summaries(assignments, t)
        .select(
            "cluster_id",
            "cluster_label",
            F.to_json("document_ids").alias("document_ids"),
            F.col("n_documents").cast("long").alias("n_documents"),
            F.to_json("centroid_features").alias("centroid_features"),
            F.to_json("main_topics").alias("main_topics"),
        )
        .orderBy("cluster_id")
    )


@_register(
    "connected_components",
    f"""
WITH RECURSIVE {_SQL_TFIDF.lstrip()},
cc_pairs AS (
    SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id
    FROM tfidf a JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING round(sum(a.weight * b.weight), 6) >= 0.8
),
cc_edges AS (
    SELECT doc1_id::VARCHAR AS a, doc2_id::VARCHAR AS b FROM cc_pairs
    UNION
    SELECT doc2_id::VARCHAR AS a, doc1_id::VARCHAR AS b FROM cc_pairs
),
reach(node, lbl) AS (
    SELECT a, a FROM cc_edges
    UNION
    SELECT e.b, r.lbl FROM reach r JOIN cc_edges e ON e.a = r.node
)
SELECT node, min(lbl) AS component FROM reach GROUP BY node
""",
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label-propagation components vs a recursive-CTE oracle:
    DuckDB computes the transitive closure and takes min(label) per
    node — exactly the iterative-join fixpoint, so membership AND
    component ids (string-min, matching components.py) hash-match."""
    from pdf_knowledge_extractor_spark.operators.components import (
        connected_components,
    )

    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    pairs = exact_cosine_pairs(t, threshold=0.8, round_dp=6)
    edges = pairs.select(
        F.col("doc1_id").cast("string").alias("src"),
        F.col("doc2_id").cast("string").alias("dst"),
    )
    return connected_components(edges)

# ---------------------------------------------------------------------------
# kg_pipeline_triples — per-predicate counts of the full exact-strategy
# pipeline vs a composed DuckDB oracle: keyword+phrase mentions, alias
# canonical merge, top-100 concept cut, contains/similar_to/related_to
# edges and every K5 property predicate re-derived in SQL.
# ---------------------------------------------------------------------------
_SQL_KG_CONCEPTS = f"""
kwarr AS (
    SELECT doc_id,
           list_filter(regexp_extract_all(lower(text), '\\b[a-z]{{4,}}\\b'),
                       w -> NOT list_contains([{sql_list(STOP_WORDS)}], w)) AS ws
    FROM documents
),
phr AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(ws), 1)),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS text
    FROM kwarr
),
ment AS (
    SELECT doc_id, word AS text, 'keyword' AS ctype, 0.5 AS imp FROM kw
    UNION ALL
    SELECT doc_id, text, 'phrase' AS ctype, 0.6 AS imp FROM phr
),
variants AS (SELECT DISTINCT text, ctype FROM ment),
canon AS (
    SELECT text, ctype,
           min(text) OVER (
               PARTITION BY regexp_replace(text, '[-_.\\s]+', '', 'g'), ctype
           ) AS ctext
    FROM variants
),
m2 AS (
    SELECT c.ctext AS text, m.ctype, m.doc_id, m.imp
    FROM ment m JOIN canon c ON m.text = c.text AND m.ctype = c.ctype
),
g2 AS (
    SELECT text, ctype, count(*)::BIGINT AS freq, avg(imp) AS imp,
           count(DISTINCT doc_id)::BIGINT AS ndocs
    FROM m2 GROUP BY text, ctype
    HAVING count(*) >= 2
),
top100 AS (
    SELECT * FROM g2
    ORDER BY round(imp, 9) DESC, freq DESC, text ASC LIMIT 100
)"""

_SQL_KG_COUNTS_BODY = """
    SELECT 'contains' AS pred,
           (SELECT coalesce(sum(ndocs), 0) FROM top100)::BIGINT AS n
    UNION ALL
    SELECT 'similar_to',
           (SELECT count(*) FROM (
                SELECT 1 FROM tfidf a
                JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING round(sum(a.weight * b.weight), 6) >= 0.7
           ))::BIGINT
    UNION ALL
    SELECT 'related_to',
           (SELECT count(*) FROM top100 a JOIN top100 b
            ON a.text < b.text AND a.ctype <> b.ctype
               AND (a.imp + b.imp) / 2.0 > 0.5)::BIGINT
    UNION ALL
    SELECT 'skos:definition',
           (SELECT count(*) FROM top100 t
            JOIN (SELECT text, ctype, min(doc_id) AS mdoc
                  FROM m2 GROUP BY text, ctype) md
              ON t.text = md.text AND t.ctype = md.ctype
            JOIN documents d ON d.doc_id = md.mdoc
            WHERE len(list_filter(
                      regexp_split_to_array(d.text, '[.!?]\\s+'),
                      s -> contains(lower(s), t.text))) > 0)::BIGINT
    UNION ALL
    SELECT p.pred, (SELECT count(*) FROM documents)::BIGINT
    FROM (VALUES ('pdf:wordCount'), ('pdf:characterCount'),
                 ('pdf:sentimentScore'), ('pdf:sentimentLabel'),
                 ('pdf:documentType'), ('dc:title'), ('dct:created')) p(pred)
    UNION ALL
    SELECT p.pred, (SELECT count(*) FROM top100)::BIGINT
    FROM (VALUES ('skos:prefLabel'), ('pdf:conceptType'),
                 ('pdf:importanceScore'), ('pdf:frequency')) p(pred)
"""

_SQL_KG_ORACLE = f"""
WITH {_SQL_TFIDF.lstrip()},
{_SQL_KG_CONCEPTS.strip()},
counts AS ({_SQL_KG_COUNTS_BODY})
SELECT pred, n FROM counts WHERE n > 0
"""


@_register("kg_pipeline_triples", _SQL_KG_ORACLE)
def q_kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline (exact similarity strategy, alias
    canonicalization, definitions on) -> per-predicate triple counts,
    hash-matched against the composed SQL derivation of every stage.
    created_at pinned so dct:created is reproducible; similarity
    thresholding on round(score, 6) per the oracle-parity convention."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    d = _docs(spark, sf_dir)
    res = run_pipeline(
        spark,
        d,
        PipelineConfig(
            similarity_strategy="exact",
            similarity_round_dp=6,
            created_at="2026-01-01T00:00:00",
        ),
    )
    return res["triples"].groupBy("pred").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# q29 — size-limit routing (F1): processable vs special_handling
# ---------------------------------------------------------------------------
@_register(
    "size_routing",
    """
WITH tagged AS (
    SELECT doc_id,
           CASE WHEN n_chars > 400 THEN 'special_handling'
                WHEN n_chars = 0 THEN 'empty'
                ELSE 'processable' END AS route
    FROM documents
)
SELECT route, count(*)::BIGINT AS n_docs,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM tagged GROUP BY route
""",
)
def q_size_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    route = (
        F.when(F.col("n_chars") > 400, "special_handling")
        .when(F.col("n_chars") == 0, "empty")
        .otherwise("processable")
    )
    return (
        d.select("doc_id", route.alias("route"))
        .groupBy("route")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# q30 — quality-band distribution (A7)
# ---------------------------------------------------------------------------
@_register(
    "quality_distribution",
    _SQL_QUALITY.replace(
        """SELECT doc_id,
       round(CASE WHEN blank THEN 0.0 ELSE text_quality END, 4) AS text_quality,
       round(CASE WHEN blank THEN 0.0 ELSE extraction_ratio END, 4) AS extraction_ratio,
       round(CASE WHEN blank THEN 0.0 ELSE content_density END, 4) AS content_density,
       round(CASE WHEN blank THEN 0.0 ELSE language_quality END, 4) AS language_quality,
       round(CASE WHEN blank THEN 0.0 ELSE structure_quality END, 4) AS structure_quality,
       round(CASE WHEN blank THEN 0.0 ELSE
             text_quality * 0.40 + extraction_ratio * 0.25
           + content_density * 0.15 + language_quality * 0.10
           + structure_quality * 0.10 END, 4) AS overall_score
FROM m""",
        """, scored AS (
    SELECT CASE WHEN blank THEN 0.0 ELSE
             text_quality * 0.40 + extraction_ratio * 0.25
           + content_density * 0.15 + language_quality * 0.10
           + structure_quality * 0.10 END AS score
    FROM m
)
SELECT CASE WHEN score >= 0.8 THEN 'excellent'
            WHEN score >= 0.6 THEN 'good'
            WHEN score >= 0.4 THEN 'fair'
            WHEN score >= 0.2 THEN 'poor'
            ELSE 'very_poor' END AS band,
       count(*)::BIGINT AS n_docs
FROM scored GROUP BY 1""",
    ),
)
def q_quality_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pages = (F.floor(F.length("text") / 2500.0) + 1).cast("long")
    q = quality_struct(F.col("text"), pages)
    score = q["overall_score"]
    band = (
        F.when(score >= 0.8, "excellent")
        .when(score >= 0.6, "good")
        .when(score >= 0.4, "fair")
        .when(score >= 0.2, "poor")
        .otherwise("very_poor")
    )
    return d.select(band.alias("band")).groupBy("band").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# q31 — top-5 similar docs per target (W2), symmetrized
# ---------------------------------------------------------------------------
@_register(
    "top_similar_per_doc",
    f"""
WITH {_SQL_TFIDF.lstrip()},
pairs AS (
    SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id,
           sum(a.weight * b.weight) AS s
    FROM tfidf a JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING round(sum(a.weight * b.weight), 6) >= 0.7
),
sym AS (
    SELECT doc1_id AS doc_id, doc2_id AS other_id, s FROM pairs
    UNION ALL
    SELECT doc2_id AS doc_id, doc1_id AS other_id, s FROM pairs
)
SELECT doc_id, other_id, round(s, 4) AS similarity_score, rank::INT AS rank
FROM (
    SELECT doc_id, other_id, s,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY round(s, 9) DESC, other_id ASC) AS rank
    FROM sym
) WHERE rank <= 5
""",
)
def q_top_similar_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    pairs = exact_cosine_pairs(t, threshold=0.0).filter(
        F.round("similarity_score", 6) >= 0.7
    )
    sym = pairs.select(
        F.col("doc1_id").alias("doc_id"),
        F.col("doc2_id").alias("other_id"),
        F.col("similarity_score").alias("s"),
    ).unionByName(
        pairs.select(
            F.col("doc2_id").alias("doc_id"),
            F.col("doc1_id").alias("other_id"),
            F.col("similarity_score").alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round("s", 9)), F.asc("other_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "doc_id",
            "other_id",
            F.round("s", 4).alias("similarity_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q32 — anti-join (U2/U3): docs with no similar pair at 0.7
# ---------------------------------------------------------------------------
@_register(
    "isolated_docs",
    f"""
WITH {_SQL_TFIDF.lstrip()},
pairs AS (
    SELECT a.doc_id AS doc1_id, b.doc_id AS doc2_id
    FROM tfidf a JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING round(sum(a.weight * b.weight), 6) >= 0.7
),
connected AS (
    SELECT doc1_id AS doc_id FROM pairs
    UNION SELECT doc2_id FROM pairs
)
SELECT d.doc_id FROM documents d
LEFT JOIN connected c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL
""",
)
def q_isolated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    pairs = exact_cosine_pairs(t, threshold=0.0).filter(
        F.round("similarity_score", 6) >= 0.7
    )
    connected = (
        pairs.select(F.col("doc1_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc2_id").alias("doc_id")))
        .distinct()
    )
    return d.select("doc_id").join(connected, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# q33 — pivot: events per type per weekday (A7 pivot analog)
# ---------------------------------------------------------------------------
@_register(
    "events_pivot",
    """
SELECT (dayofweek(ts) + 1)::INT AS weekday,
       count(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
       count(*) FILTER (WHERE event_type = 'view')::BIGINT AS view,
       count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
       count(*) FILTER (WHERE event_type NOT IN ('click','view','purchase'))::BIGINT AS other
FROM events GROUP BY 1
""",
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").cast("int").alias("weekday")
    ).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase"),
        F.count(
            F.when(~F.col("event_type").isin("click", "view", "purchase"), 1)
        ).alias("other"),
    )


@_register(
    "ann_ivf_topk",
    f"""
WITH {_sql_planes(1, 4, 64).strip()},
probes AS (
    SELECT s.vec_id AS query_id, l.lid
    FROM sigs s, range(16) l(lid)
    QUALIFY row_number() OVER (
        PARTITION BY s.vec_id
        ORDER BY bit_count(xor(s.sig, l.lid)) ASC, l.lid ASC
    ) <= 4
),
cand AS (
    SELECT p.query_id, s2.vec_id AS nbr_id
    FROM probes p JOIN sigs s2 ON s2.sig = p.lid AND s2.vec_id <> p.query_id
),
{_SQL_ANN_TOPK_TAIL.strip()}
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the deterministic hyperplane coarse quantizer +
    multi-probe (ann.ivf_multiprobe_topk): 16 inverted lists = 4
    md5-parity sign bits, each query probes its 4 Hamming-closest
    lists. Fully re-derived by the SQL oracle — lists, probe order,
    rescoring and top-5 all hash-match. The KMeans-quantizer IVF
    (ann.ivf_topk) is gated separately via ann_ivf_kmeans_topk (pinned
    quantizer) plus its pytest recall gate (test_ann)."""
    from pdf_knowledge_extractor_spark.operators.ann import ivf_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return ivf_multiprobe_topk(
        emb, k=5, n_lists=16, n_probe=4, dim=64
    ).select(
        "query_id",
        "nbr_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q36 — rolling trend frame (W7): last-3-event average per user
# ---------------------------------------------------------------------------
@_register(
    "rolling_trend",
    """
SELECT user_id, event_id,
       round(avg(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             6) AS rolling_avg,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_sum
FROM events
""",
)
def q_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.avg("value").over(w.rowsBetween(-2, 0)), 6
        ).alias("rolling_avg"),
        F.round(
            F.sum("value").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        ).alias("running_sum"),
    )


# ---------------------------------------------------------------------------
# q37 — cluster-summary derivation with FIXED assignments (round-3: the
# label/centroid/topics SQL in clustering.cluster_summaries is pure
# window/agg logic even though KMeans memberships are not SQL-derivable,
# so feed it deterministic rule-based assignments and hash-match it)
# ---------------------------------------------------------------------------
@_register(
    "cluster_summaries_fixed",
    f"""
WITH {_SQL_TFIDF.lstrip()},
assign AS (
    SELECT DISTINCT doc_id, (doc_id % 5)::INT AS cluster_id FROM tfidf
),
term_means AS (
    SELECT a.cluster_id, t.term, avg(t.weight) AS mean_w
    FROM assign a JOIN tfidf t ON a.doc_id = t.doc_id
    GROUP BY a.cluster_id, t.term
),
ranked AS (
    SELECT cluster_id, term, mean_w,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY round(mean_w, 9) DESC, term ASC) AS rnk
    FROM term_means
),
tops AS (
    SELECT cluster_id,
           list(term ORDER BY rnk) AS terms,
           list(term || ':' || round(mean_w, 6)::DECIMAL(18, 6)::VARCHAR
                ORDER BY rnk) AS centr
    FROM ranked WHERE rnk <= 10
    GROUP BY cluster_id
),
members AS (
    SELECT cluster_id,
           list_sort(list(DISTINCT doc_id::VARCHAR)) AS docs,
           count(*)::BIGINT AS n_documents
    FROM assign GROUP BY cluster_id
)
SELECT m.cluster_id,
       array_to_string(
           list_transform(t.terms[1:3],
                          w -> upper(substr(w, 1, 1)) || substr(w, 2)),
           ' & ') AS cluster_label,
       array_to_string(m.docs, '|') AS document_ids,
       m.n_documents,
       array_to_string(t.centr, '|') AS centroid_features,
       array_to_string(t.terms[1:5], '|') AS main_topics
FROM members m JOIN tops t USING (cluster_id)
ORDER BY m.cluster_id
""",
)
def q_cluster_summaries_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_summaries (clustering.py) fed deterministic assignments
    (doc_id % 5 over the vectorizable universe): labels (initcap top-3
    ' & '-joined), document_ids, centroid features (rank-ordered,
    6dp-decimal-formatted) and main_topics all hash-match the DuckDB
    re-derivation — the summary logic behind kmeans_summaries is fully
    oracle-gated even though KMeans memberships themselves are not
    SQL-derivable."""
    from pdf_knowledge_extractor_spark.operators.clustering import (
        cluster_summaries,
    )

    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count()).persist()
    assignments = (
        t.select("doc_id")
        .distinct()
        .select("doc_id", (F.col("doc_id") % 5).cast("int").alias("cluster_id"))
    )
    centroid_str = F.concat_ws(
        "|",
        F.transform(
            F.map_entries("centroid_features"),
            lambda e: F.concat_ws(
                ":",
                e["key"],
                F.round(e["value"], 6).cast("decimal(18,6)").cast("string"),
            ),
        ),
    )
    return (
        cluster_summaries(assignments, t)
        .select(
            F.col("cluster_id").cast("int").alias("cluster_id"),
            "cluster_label",
            F.concat_ws("|", "document_ids").alias("document_ids"),
            F.col("n_documents").cast("long").alias("n_documents"),
            centroid_str.alias("centroid_features"),
            F.concat_ws("|", "main_topics").alias("main_topics"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# q38 — KMeans-shaped IVF ANN with a pinned quantizer (round-3: gates
# ann.ivf_topk, the euclidean-assignment variant; the hyperplane twin is
# gated by ann_ivf_topk)
# ---------------------------------------------------------------------------
_SQL_IVF_KMEANS = f"""
WITH cent AS (
    SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS list_id,
           embedding::DOUBLE[] AS center
    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
assigned AS (
    SELECT vec_id, list_id FROM (
        SELECT e.vec_id, c.list_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_sum(list_transform(range(64), i ->
                       (e.embedding[i + 1]::DOUBLE - c.center[i + 1])
                       * (e.embedding[i + 1]::DOUBLE - c.center[i + 1]))) ASC,
                   c.list_id ASC) AS r
        FROM embeddings e, cent c
    ) WHERE r = 1
),
probes AS (
    SELECT e.vec_id AS query_id, c.list_id
    FROM embeddings e, cent c
    QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.center) DESC,
                 c.list_id ASC
    ) <= 2
),
cand AS (
    SELECT p.query_id, a.vec_id AS nbr_id
    FROM probes p
    JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
{_SQL_ANN_TOPK_TAIL.strip()}
"""


@_register("ann_ivf_kmeans_topk", _SQL_IVF_KMEANS)
def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_topk (the KMeans-shaped IVF: euclidean argmin assignment to
    inverted lists, cosine probe order, exact rescore) with the
    quantizer pinned to the 8 lowest-id embeddings, so DuckDB
    re-derives lists, probes, candidates and the top-5 exactly — no
    pytest-only ANN tier remains."""
    from pdf_knowledge_extractor_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cent_rows = emb.orderBy("vec_id").limit(8).collect()
    centers_df = spark.createDataFrame(
        [(i, list(r["embedding"])) for i, r in enumerate(cent_rows)],
        "list_id int, center array<double>",
    )
    return ivf_topk(
        emb, k=5, n_lists=8, n_probe=2, fixed_centroids=centers_df
    ).select(
        "query_id",
        "nbr_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q39 — graph stats / density (G3, A11): node + edge counts and
# nx.density parity over the full pipeline graph (round 3 — closes the
# two "untested (trivial)" rows in the coverage table)
# ---------------------------------------------------------------------------
_SQL_GRAPH_STATS = f"""
WITH {_SQL_TFIDF.lstrip()},
{_SQL_KG_CONCEPTS.strip()},
sim AS (
    SELECT count(*)::BIGINT AS n FROM (
        SELECT 1 FROM tfidf a
        JOIN tfidf b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(sum(a.weight * b.weight), 6) >= 0.7
    )
),
rel AS (
    SELECT count(*)::BIGINT AS n FROM top100 a JOIN top100 b
    ON a.text < b.text AND a.ctype <> b.ctype
       AND (a.imp + b.imp) / 2.0 > 0.5
),
contains_e AS (
    SELECT coalesce(sum(ndocs), 0)::BIGINT AS n FROM top100
),
nn AS (
    SELECT (SELECT count(*) FROM documents)::BIGINT
         + (SELECT count(*) FROM top100)::BIGINT AS n_nodes
),
ee AS (
    SELECT (SELECT n FROM contains_e) + (SELECT n FROM sim)
         + (SELECT n FROM rel) AS n_edges
)
SELECT nn.n_nodes AS total_nodes, ee.n_edges AS total_edges,
       round(2.0 * ee.n_edges / (nn.n_nodes * (nn.n_nodes - 1.0)), 9)
           AS graph_density
FROM nn, ee
"""


@_register("graph_stats", _SQL_GRAPH_STATS)
def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/A11: node/edge counts + nx.density formula (2E/(N(N-1)),
    semantic_analyzer.py:176) over the full exact-strategy pipeline
    graph, hash-matched against the composed SQL derivation of the
    node and edge sets."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    d = _docs(spark, sf_dir)
    res = run_pipeline(
        spark,
        d,
        PipelineConfig(
            similarity_strategy="exact",
            similarity_round_dp=6,
            created_at="2026-01-01T00:00:00",
        ),
    )
    nodes = res["nodes"].agg(F.count("*").alias("total_nodes"))
    edges = res["edges"].agg(F.count("*").alias("total_edges"))
    return nodes.crossJoin(edges).select(
        "total_nodes",
        "total_edges",
        F.round(
            2.0 * F.col("total_edges")
            / (F.col("total_nodes") * (F.col("total_nodes") - 1.0)),
            9,
        ).alias("graph_density"),
    )


# ---------------------------------------------------------------------------
# q40 — multimodal feature extraction (mapInPandas plumbing), fully
# oracle-gated: the deterministic fake decode/features are sha256-derived
# and DuckDB has sha256(), so byte-level parity is SQL-checkable
# ---------------------------------------------------------------------------
_SQL_MEDIA = """
WITH h AS (
    SELECT doc_id::VARCHAR AS media_id,
           strlen(text)::BIGINT AS n_bytes,
           sha256(text) AS sha,
           sha256(text || 'feat') AS fsha
    FROM documents
)
SELECT media_id, 'image' AS kind, n_bytes, sha AS sha256,
       (64 + ('0x' || substr(sha, 1, 2))::INT % 192)::INT AS width,
       (64 + ('0x' || substr(sha, 3, 2))::INT % 192)::INT AS height,
       (1 + ('0x' || substr(sha, 5, 2))::INT % 30)::INT AS n_frames,
       array_to_string(list_transform(range(8), i ->
           ('0x' || substr(fsha, i * 2 + 1, 2))::INT::VARCHAR), '|')
           AS feature_bytes
FROM h
"""


@_register("media_features", _SQL_MEDIA)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_media_features (operators/multimodal.py) over binary
    payloads built from the documents table (data = utf-8 bytes of
    text). The Arrow-batched mapInPandas path runs for real; widths/
    heights/frames and the 8 feature components are deterministic
    byte-hash functions, inverted back to exact digest bytes
    (round((f+1)/2*255) — float32 storage keeps bytes exact) so DuckDB
    re-derives every value from sha256()."""
    from pdf_knowledge_extractor_spark.operators.multimodal import (
        extract_media_features,
    )

    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("data"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    feats = extract_media_features(media, feature_dim=8)
    byte_back = F.transform(
        "features",
        lambda f: F.round((f + F.lit(1.0)) / 2.0 * 255.0).cast("int").cast("string"),
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha256",
        "width",
        "height",
        "n_frames",
        F.concat_ws("|", byte_back).alias("feature_bytes"),
    )


# ---------------------------------------------------------------------------
# q41 — stateful streaming sessionization (applyInPandasWithState) vs
# the batch SQL fixpoint: the streaming operator reads the events table
# as a file stream (availableNow), emits CLOSED sessions; the oracle
# derives the same closed-session set (every session but each user's
# last) from the lag/cumsum sessionization
# ---------------------------------------------------------------------------
_SQL_SESSIONS_STREAM = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, sid,
           floor(min(epoch(ts)))::BIGINT AS session_start,
           floor(max(epoch(ts)))::BIGINT AS session_end,
           count(*)::BIGINT AS n_events
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
"""


@_register("sessionize_stream", _SQL_SESSIONS_STREAM)
def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/stateful.session_aggregator driven end-to-end as a
    real Structured Streaming query (file source, availableNow
    trigger, memory sink), hash-matched against the batch
    sessionization SQL restricted to CLOSED sessions (the streaming
    operator keeps each user's open tail session in state)."""
    import uuid

    from pdf_knowledge_extractor_spark.streaming.stateful import (
        session_aggregator,
    )

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file stream source needs a DIRECTORY basePath; the sf dir
    # holds one parquet file per table, so glob-filter to this table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"sess_stream_{uuid.uuid4().hex[:8]}"
    q = (
        session_aggregator(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _assert_single_batch(q)
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def _assert_single_batch(q) -> None:
    """The batch-SQL oracle for the append-mode session stream assumes
    per-user event-time order, which the file source only guarantees
    within a single micro-batch. One events.parquet file + availableNow
    => one batch; guard the assumption explicitly so a future
    multi-file sf layout fails loudly instead of hash-mismatching
    (ADVICE r3)."""
    data_batches = [
        p for p in q.recentProgress if (p["numInputRows"] or 0) > 0
    ]
    if len(data_batches) > 1:
        raise RuntimeError(
            f"expected a single availableNow micro-batch, got "
            f"{len(data_batches)}: the append-mode session oracle is "
            "only valid for single-batch execution"
        )


# ---------------------------------------------------------------------------
# q42/q43 — the remaining streaming operators driven as real streaming
# queries and hash-matched against batch SQL: windowed event-time
# aggregation (watermark path) and the stateful running-counters
# operator (single availableNow batch => each user's final totals)
# ---------------------------------------------------------------------------
@_register(
    "windowed_stream_counts",
    """
SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS win_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_windowed_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/stream_ops.windowed_event_counts run as a real
    Structured Streaming query (file source, watermark, availableNow,
    complete-mode memory sink) — tumbling 1h windows hash-match the
    batch epoch-bucket SQL. approx_count_distinct is projected out
    (HLL sketches are engine-specific by design)."""
    import uuid

    from pdf_knowledge_extractor_spark.streaming.stream_ops import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # parquet ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP —
        # the cast interprets wall time in the session TZ (pinned UTC),
        # matching DuckDB's epoch() on the same values
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_event_counts(stream, window="1 hour")
    out = run_stream_to_memory(
        spark, agg, f"win_stream_{uuid.uuid4().hex[:8]}", "complete"
    )
    return out.select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("win_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


@_register(
    "stream_user_counts",
    """
SELECT user_id, count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY user_id
""",
)
def q_stream_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/stateful.running_user_counts (applyInPandasWithState,
    update mode) driven over a single availableNow batch: every user
    emits exactly its final running totals, which must equal the batch
    groupBy — the stateful-counter operator's oracle gate."""
    import uuid

    from pdf_knowledge_extractor_spark.streaming.stateful import (
        running_user_counts,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"ucount_stream_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # robust to multi-batch execution (ADVICE r3): the update-mode
    # memory sink holds one row per (user, batch); the FINAL emission
    # per user is the one with the highest running n_events, and it
    # must equal the batch groupBy totals
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q44 — the CLUSTERED pipeline composition end-to-end (VERDICT r3 item
# 2): with_clusters=True over deterministic injected assignments
# (doc_id % 5 on the tfidf universe), so the whole DAG — including the
# cluster_triples union leg the default pipeline skips — is per-pred
# hash-matched, in_cluster included
# ---------------------------------------------------------------------------
_SQL_KG_CLUSTERED_ORACLE = f"""
WITH {_SQL_TFIDF.lstrip()},
{_SQL_KG_CONCEPTS.strip()},
counts AS ({_SQL_KG_COUNTS_BODY}
    UNION ALL
    SELECT 'in_cluster',
           (SELECT count(DISTINCT doc_id) FROM tfidf)::BIGINT
)
SELECT pred, n FROM counts WHERE n > 0
"""


def _fixed_assignments(spark: SparkSession, sf_dir: str):
    """doc_id % 5 over the vectorizable universe (docs with >= 1
    keyword term) — the deterministic stand-in for KMeans memberships
    that makes the clustered composition SQL-derivable."""
    d = _docs(spark, sf_dir)
    km = keyword_mentions(d)
    t = tfidf_longform(km.select("doc_id", "text"), n_docs=d.count())
    return (
        t.select("doc_id")
        .distinct()
        .select("doc_id", (F.col("doc_id") % 5).cast("int").alias("cluster_id"))
    )


@_register("kg_pipeline_clustered", _SQL_KG_CLUSTERED_ORACLE)
def q_kg_pipeline_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline with the CLUSTERED leg on (exact similarity
    strategy, canonicalization, definitions, fixed assignments) ->
    per-predicate triple counts incl. in_cluster, hash-matched against
    the composed SQL derivation (reference EP3 clusters
    unconditionally, semantic_analyzer.py:161)."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    d = _docs(spark, sf_dir)
    res = run_pipeline(
        spark,
        d,
        PipelineConfig(
            similarity_strategy="exact",
            similarity_round_dp=6,
            created_at="2026-01-01T00:00:00",
            with_clusters=True,
            fixed_cluster_assignments=_fixed_assignments(spark, sf_dir),
        ),
    )
    return res["triples"].groupBy("pred").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# q45 — the composed clusters RELATION from the clustered pipeline
# (summaries join coherence, plans/pipeline.py): labels, sizes and the
# reference-semantics coherence (mean positive intra-cluster pairwise
# cosine; <2 docs -> 1.0; none positive -> 0.0) hash-matched against
# the SQL re-derivation under the same fixed assignments
# ---------------------------------------------------------------------------
_SQL_CLUSTER_RELATION = f"""
WITH {_SQL_TFIDF.lstrip()},
assign AS (
    SELECT DISTINCT doc_id, (doc_id % 5)::INT AS cluster_id FROM tfidf
),
term_means AS (
    SELECT a.cluster_id, t.term, avg(t.weight) AS mean_w
    FROM assign a JOIN tfidf t ON a.doc_id = t.doc_id
    GROUP BY a.cluster_id, t.term
),
ranked AS (
    SELECT cluster_id, term,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY round(mean_w, 9) DESC, term ASC) AS rnk
    FROM term_means
),
tops AS (
    SELECT cluster_id, list(term ORDER BY rnk) AS terms
    FROM ranked WHERE rnk <= 10
    GROUP BY cluster_id
),
members AS (
    SELECT cluster_id, count(*)::BIGINT AS n_documents
    FROM assign GROUP BY cluster_id
),
pair_sims AS (
    SELECT a1.cluster_id,
           round(sum(t1.weight * t2.weight), 6) AS s
    FROM tfidf t1
    JOIN assign a1 ON t1.doc_id = a1.doc_id
    JOIN assign a2 ON a2.cluster_id = a1.cluster_id
                   AND a2.doc_id > a1.doc_id
    JOIN tfidf t2 ON t2.doc_id = a2.doc_id AND t2.term = t1.term
    GROUP BY a1.cluster_id, t1.doc_id, t2.doc_id
),
coh AS (
    SELECT cluster_id, avg(s) AS c
    FROM pair_sims WHERE s > 0 GROUP BY cluster_id
)
SELECT m.cluster_id,
       array_to_string(
           list_transform(t.terms[1:3],
                          w -> upper(substr(w, 1, 1)) || substr(w, 2)),
           ' & ') AS cluster_label,
       m.n_documents,
       round(CASE WHEN m.n_documents < 2 THEN 1.0
                  ELSE coalesce(coh.c, 0.0) END,
             6)::DECIMAL(18, 6)::VARCHAR AS coherence
FROM members m
JOIN tops t USING (cluster_id)
LEFT JOIN coh USING (cluster_id)
ORDER BY m.cluster_id
"""


@_register("cluster_relation_fixed", _SQL_CLUSTER_RELATION)
def q_cluster_relation_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """res["clusters"] from the clustered pipeline under fixed
    assignments — the ONLY previously-untested join in the DAG
    (cluster_summaries ⋈ cluster_coherence, plans/pipeline.py), now
    gated: label, size and reference-semantics coherence all
    hash-match DuckDB."""
    from pdf_knowledge_extractor_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    d = _docs(spark, sf_dir)
    res = run_pipeline(
        spark,
        d,
        PipelineConfig(
            similarity_strategy="exact",
            similarity_round_dp=6,
            created_at="2026-01-01T00:00:00",
            with_clusters=True,
            fixed_cluster_assignments=_fixed_assignments(spark, sf_dir),
        ),
    )
    return (
        res["clusters"]
        .select(
            F.col("cluster_id").cast("int").alias("cluster_id"),
            "cluster_label",
            F.col("n_documents").cast("long").alias("n_documents"),
            F.round("coherence_score", 6)
            .cast("decimal(18,6)")
            .cast("string")
            .alias("coherence"),
        )
        .orderBy("cluster_id")
    )
